package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The native DecimalDot expression must be value-identical to the
  * built-in higher-order composition it replaces (same per-element
  * double multiply, same Cast rounding to DECIMAL(30,12), exact sum).
  */
class SimilaritySpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  test("native dot product equals the higher-order-function form") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat),
        Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = rows.toDF("id", "a", "b")
    Similarity.registerNative(spark)
    val diff = df.select(
        Similarity.dotDecimal($"a", $"b").as("native"),
        Similarity.dotDecimalHof($"a", $"b").as("hof"))
      .filter($"native" =!= $"hof" ||
        ($"native".isNull =!= $"hof".isNull))
      .count()
    assert(diff === 0)
  }

  test("edge semantics match the HOF chain: empty, mismatch, null, overflow") {
    // empty → 0 (aggregate's initial value); mismatched lengths → NULL
    // (zip_with null padding); null element → NULL (null product nulls
    // the fold); product overflowing DECIMAL(30,12) → NULL (non-ANSI cast)
    val big = Float.MaxValue
    val df = Seq(
      (1L, Array[java.lang.Float](), Array[java.lang.Float]()),
      (2L, Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](3.0f)),
      (3L, Array[java.lang.Float](1.0f, null), Array[java.lang.Float](2.0f, 4.0f)),
      (4L, Array[java.lang.Float](big), Array[java.lang.Float](big)))
      .toDF("id", "a", "b")
    Similarity.registerNative(spark)
    // DecimalDot matches the chain's NON-ANSI form (overflow → NULL, not
    // an error) — compare under ansi=false, the mode the doc names
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    val got =
      try df.select($"id",
          Similarity.dotDecimal($"a", $"b").as("native"),
          Similarity.dotDecimalHof($"a", $"b").as("hof"))
        .orderBy("id").collect()
      finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
    assert(got(0).getDecimal(1).doubleValue() === 0.0)
    assert(got(1).isNullAt(1))
    assert(got(2).isNullAt(1))
    assert(got(3).isNullAt(1))
    // and each edge agrees with the built-in chain it documents
    got.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"id=${r.getLong(0)}")
      if (!r.isNullAt(1)) assert(r.getDecimal(1) === r.getDecimal(2))
    }
  }

  test("quantizeInt8: max|x| maps to ±127, zero vector to zeros") {
    val df = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f)),
      (2L, Array(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .orderBy("vec_id").select("scale", "q")
      .as[(Double, Seq[Long])].collect()
    // amax=2 → scale=2/127; 1.0→⌊63.5+0.5⌋=64, −2.0→−127, 0.5→⌊31.75+0.5⌋=32
    assert(got(0)._1 === 2.0 / 127.0)
    assert(got(0)._2 === Seq(64L, -127L, 32L))
    assert(got(1)._1 === 0.0)
    assert(got(1)._2 === Seq(0L, 0L, 0L))
  }

  test("quantizedTopK ranks an identical vector first with approx_cos 1.0") {
    val emb = Seq(
      (0L, Array(0.3f, -0.7f, 0.1f, 0.9f)),
      (1L, Array(0.3f, -0.7f, 0.1f, 0.9f)),  // identical to 0
      (2L, Array(0.9f, 0.3f, -0.2f, 0.1f)),
      (3L, Array(-0.3f, 0.7f, -0.1f, -0.9f)) // opposite of 0
    ).toDF("vec_id", "embedding")
    val top = Similarity.quantizedTopK(emb.filter($"vec_id" === 0), emb,
        "vec_id", "embedding", k = 3)
      .orderBy("rank").select("neighbor_id", "approx_cos")
      .as[(Long, Double)].collect()
    // qdot = qn2 for identical ints, but sqrt(x)·sqrt(x) ≠ x exactly in
    // IEEE doubles for non-perfect squares — so ≈, not ===
    assert(top(0)._1 === 1L)
    assert(math.abs(top(0)._2 - 1.0) < 1e-12)
    assert(top(2)._1 === 3L)
    assert(math.abs(top(2)._2 + 1.0) < 1e-12)
    assert(top(1)._2 > -0.999 && top(1)._2 < 0.999)
  }

  test("embedNormStats: exact norms, normalized head, zero-vector → null") {
    val emb = Seq(
      (1L, Array(3.0f, 4.0f)),          // norm 5, e0_n = 0.6
      (2L, Array(0.0f, 0.0f)),          // zero vector
      (3L, Array(-1.0f, 0.0f))          // unit, e0_n = -1
    ).toDF("vec_id", "embedding")
    val out = Similarity.embedNormStats(emb, $"vec_id", $"embedding")
      .as[(Long, Int, Double, Option[Double])].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, 2, 5.0, Some(0.6)), (2L, 2, 0.0, None), (3L, 2, 1.0, Some(-1.0))))
  }

  test("native SignBucket is byte-identical to the per-plane dot composition") {
    val emb = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    Similarity.registerNative(spark)
    // single-table and OR-family offsets, covering the 4/8/15-bit widths
    // the engine actually uses
    for ((table, nBits) <- Seq((0, 4), (0, 8), (3, 4), (7, 8), (0, 15))) {
      val cmp = emb.select(
          Similarity.signBucketTable(col("embedding"), table, nBits, 64).as("fast"),
          Similarity.signBucketHof(col("embedding"), nBits, 64).as("ref_t0"))
      if (table == 0)
        assert(cmp.filter(col("fast") =!= col("ref_t0")).count() === 0,
          s"table=0 nBits=$nBits diverged from the composition")
      // every bucket is exactly nBits of '0'/'1'
      assert(cmp.filter(not(col("fast").rlike(s"^[01]{$nBits}$$"))).count() === 0)
    }
    // null / wrong-length / null-element vectors degrade to all-zeros,
    // exactly like the composition's when(null >= 0, ...) path
    val edge = Seq(
      (1L, null.asInstanceOf[Array[java.lang.Float]]),
      (2L, Array[java.lang.Float](1.0f, 2.0f)),              // wrong length
      (3L, Array[java.lang.Float](1.0f, null, 3.0f, 4.0f))   // null element
    ).toDF("vec_id", "embedding")
    val got = edge.select(col("vec_id"),
        Similarity.signBucketTable(col("embedding"), 0, 4, 4).as("b"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "0000" && got(2L) === "0000" && got(3L) === "0000")
    // non-degenerate 4-dim case still matches the composition
    val tiny = Seq((1L, Array(0.5f, -1.5f, 2.5f, -0.25f))).toDF("vec_id", "embedding")
    val pair = tiny.select(
        Similarity.signBucketTable(col("embedding"), 0, 4, 4).as("fast"),
        Similarity.signBucketHof(col("embedding"), 4, 4).as("ref"))
      .as[(String, String)].head()
    assert(pair._1 === pair._2)
  }

  test("long-accumulator fast paths bail to the BigDecimal fold at the " +
      "overflow bounds with identical results (round-14 internals change)") {
    // magnitudes straddling every fast-path guard: ~1e3 (n·maxAbs
    // overflows a long mid-fold for dot products), ~3e5 (same for the
    // 64-dim sign fold), ~6e6 (per-element unscaled bitLength > 62),
    // plus ordinary embedding-scale values mixed in so a bail mid-row
    // must not corrupt earlier partials
    val rnd = new scala.util.Random(41)
    val mags = Array(1.0f, 1e3f, 3e5f, 6e6f, 1e-6f)
    val rows = (1 to 120).map { i =>
      def v() = Array.fill(64)(
        (rnd.nextDouble() * 2 - 1).toFloat * mags(rnd.nextInt(mags.length)))
      (i.toLong, v(), v())
    }
    val df = rows.toDF("id", "a", "b")
    Similarity.registerNative(spark)
    val dotDiff = df.select(
        Similarity.dotDecimal($"a", $"b").as("native"),
        Similarity.dotDecimalHof($"a", $"b").as("hof"))
      .filter($"native" =!= $"hof" || ($"native".isNull =!= $"hof".isNull))
      .count()
    assert(dotDiff === 0)
    val signDiff = df.select(
        Similarity.signBucketTable($"a", 0, 16, 64).as("fast"),
        Similarity.signBucketHof($"a", 16, 64).as("ref"))
      .filter($"fast" =!= $"ref").count()
    assert(signDiff === 0)
  }

  test("adaptiveSignBits: integer-exact ladder, ceiling 32 (past the old 16-bit cap)") {
    // boundary exactness: a power-of-two corpus must draw the same
    // boundary as the oracle's CASE rungs (cnt > 2^(k-1)·2)
    assert(Similarity.adaptiveSignBits(1L) === 8)
    assert(Similarity.adaptiveSignBits(512L) === 8)    // 2^8·2 = 512 ≥ n
    assert(Similarity.adaptiveSignBits(513L) === 9)
    assert(Similarity.adaptiveSignBits(131072L) === 16) // the old ceiling…
    assert(Similarity.adaptiveSignBits(131073L) === 17) // …now crossed
    assert(Similarity.adaptiveSignBits(300000L) === 18)
    assert(Similarity.adaptiveSignBits(1L << 33) === 32) // hard ceiling
    assert(Similarity.adaptiveSignBits(Long.MaxValue) === 32)
  }

  test("signBucketWide: one-block compat, block layout, prefix property") {
    val emb = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    Similarity.registerNative(spark)
    // widths ≤ stride are byte-identical to the proven one-block form —
    // the compat contract that keeps round-13 buckets/oracles unchanged
    for ((table, nTables, nBits) <- Seq((0, 2, 8), (1, 2, 16), (3, 4, 12))) {
      val cmp = emb.select(
        Similarity.signBucketWide(col("embedding"), table, nTables, nBits, 64)
          .as("wide"),
        Similarity.signBucketTableStride(col("embedding"), table, nBits, 64)
          .as("one"))
      assert(cmp.filter(col("wide") =!= col("one")).count() === 0,
        s"table=$table nTables=$nTables nBits=$nBits diverged from one-block")
    }
    // multi-block: table t's width-20 bucket = its 16-plane block 0
    // (offset t·16) ++ the first 4 bits of block 1 (offset (t+nT)·16) —
    // both blocks the proven one-block primitive
    for ((table, nTables) <- Seq((0, 2), (1, 2), (2, 4))) {
      val cmp = emb.select(
        Similarity.signBucketWide(col("embedding"), table, nTables, 20, 64)
          .as("wide"),
        concat(
          Similarity.signBucketTableStride(col("embedding"), table, 16, 64),
          Similarity.signBucketTableStride(col("embedding"), table + nTables, 4, 64))
          .as("blocks"))
      assert(cmp.filter(col("wide") =!= col("blocks")).count() === 0,
        s"table=$table nTables=$nTables 20-bit bucket != block concat")
    }
    // prefix property: widening never reassigns planes (the oracle's
    // substr replay and the adaptive ladder both depend on this)
    val pfx = emb.select(
      Similarity.signBucketWide(col("embedding"), 1, 2, 16, 64).as("w16"),
      Similarity.signBucketWide(col("embedding"), 1, 2, 20, 64).as("w20"),
      Similarity.signBucketWide(col("embedding"), 1, 2, 32, 64).as("w32"))
    assert(pfx.filter(substring(col("w20"), 1, 16) =!= col("w16")).count() === 0)
    assert(pfx.filter(substring(col("w32"), 1, 20) =!= col("w20")).count() === 0)
    assert(pfx.filter(not(col("w32").rlike("^[01]{32}$"))).count() === 0)
  }

  test("pairBudgetSignBits: equals the driver-side recomputation of the rule") {
    val emb = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    Similarity.registerNative(spark)
    // independent reference: collect the full-width table-0 buckets and
    // fold the rule in plain Scala
    def reference(corpus: org.apache.spark.sql.DataFrame, nTables: Int,
        budget: Long): Int = {
      val b32 = corpus.select(
        Similarity.signBucketWide(col("embedding"), 0, nTables, 32, 64).as("b"))
        .as[String].collect()
      val n = b32.length.toLong
      val wBudget = (8 to 32).find { w =>
        val s = b32.groupBy(_.substring(0, w)).values
          .map(g => g.size.toLong * g.size).sum
        s <= budget * n
      }.getOrElse(32)
      val wOcc = (8 to 32).find(w => (1L << w) * 2 >= n).getOrElse(32)
      math.max(wOcc, wBudget)
    }
    for ((nTables, budget) <- Seq((2, 32L), (4, 32L), (4, 2L)))
      assert(Similarity.pairBudgetSignBits(emb, col("embedding"), 64,
        nTables, pairBudget = budget) === reference(emb, nTables, budget),
        s"nTables=$nTables budget=$budget")
    // an enormous budget degenerates to the occupancy ladder's pick
    // (n = 500 at sf0.001 → 2^8·2 = 512 ≥ 500 → 8): the occupancy leg
    // is the floor on flat corpora, the budget leg only ever WIDENS it
    assert(Similarity.pairBudgetSignBits(emb, col("embedding"), 64, 2,
      pairBudget = 1000000L) === 8)
    // an unsplittable cluster (identical vectors) can never satisfy a
    // tight budget — the rule lands on the ceiling instead of looping
    val one = emb.limit(1)
    val clones = one.crossJoin(spark.range(0, 200).select(col("id")))
      .select((col("vec_id") * 1000 + col("id")).as("vec_id"), col("embedding"))
    assert(Similarity.pairBudgetSignBits(clones, col("embedding"), 64, 2,
      pairBudget = 1L) === 32)
  }

  test("knnGraph at a multi-block width equals the one-block-primitive reimplementation") {
    // the sf0.01 oracle gate can only exercise nb ≤ 16 (small corpus);
    // this is the correctness leg for the >16-bit path the 100× capture
    // times. Reference: candidates from EXPLICIT one-block concat
    // buckets (the spec-proven primitive), exact HOF-decimal cosine,
    // same deterministic tie order.
    val real = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    // plant exact duplicates: identical vectors share every bucket at
    // ANY width, so the candidate set is provably non-empty even in the
    // 2^20-bucket space a 20-bit width opens on this tiny corpus
    val emb = real.unionByName(
      real.select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    Similarity.registerNative(spark)
    val k = 3
    val nTables = 2
    val got = Similarity.knnGraph(emb, "vec_id", "embedding",
      nBits = 20, dim = 64, k = k, nTables = nTables)
      .select("query_id", "neighbor_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val base = Similarity.withNorm2(emb, col("embedding"))
    def bucket(t: Int): org.apache.spark.sql.Column = concat(
      Similarity.signBucketTableStride(col("embedding"), t, 16, 64),
      Similarity.signBucketTableStride(col("embedding"), t + nTables, 4, 64))
    val cand = (0 until nTables).map { t =>
      base.select(col("vec_id").as("query_id"), bucket(t).as("b"))
        .join(base.select(col("vec_id").as("neighbor_id"), bucket(t).as("b")),
          Seq("b"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id")
    }.reduce(_ unionByName _).distinct()
    val scored = cand
      .join(base.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("n2").as("qn2")), Seq("query_id"))
      .join(base.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
        col("n2").as("nn2")), Seq("neighbor_id"))
      .withColumn("cos",
        Similarity.dotDecimalHof(col("qv"), col("nv")).cast("double") /
          (sqrt(col("qn2").cast("double")) * sqrt(col("nn2").cast("double"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val want = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got.nonEmpty, "multi-block knnGraph returned no edges")
    assert(got === want)
  }

  test("ivfTopKIndexed equals ivfTopK on a real corpus slice") {
    val emb = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 8)
    val direct = Similarity.ivfTopK(q, emb, "vec_id", "embedding",
        nCentroids = 16, nProbe = 2, k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    val idxDir = java.nio.file.Files.createTempDirectory("ivf_idx")
    try {
      Similarity.ensureIvfIndex(emb, "vec_id", "embedding",
        nCentroids = 16, path = idxDir.toString)
      assert(new java.io.File(idxDir.toFile, "_OK").exists())
      // cent_id-partitioned posting lists — one directory per list
      assert(Option(new java.io.File(idxDir.toFile, "postings").listFiles())
        .getOrElse(Array.empty)
        .count(f => f.isDirectory && f.getName.startsWith("cent_id=")) === 16)
      val indexed = Similarity.ivfTopKIndexed(spark, idxDir.toString, q,
          "vec_id", "embedding", nProbe = 2, k = 3)
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(indexed === direct)
      // second ensure is a no-op fast path (index already gated)
      Similarity.ensureIvfIndex(emb, "vec_id", "embedding",
        nCentroids = 16, path = idxDir.toString)
      assert(indexed.nonEmpty)

      // append: new vectors join their nearest STORED centroid's list
      // and become reachable by the probe; then compact folds the
      // per-batch small files with probe results unchanged
      (1 to 3).foreach { b =>
        Similarity.appendToIvfIndex(spark,
          emb.filter(col("vec_id") >= 16 + 20 * (b - 1) &&
              col("vec_id") < 16 + 20 * b)
            .select((col("vec_id") + 100000L).as("vec_id"),
              col("embedding")),
          "vec_id", "embedding", idxDir.toString)
      }
      // an appended vector is an exact copy of its original, so probing
      // with the original must rank the copy at cos 1.0 — top-1 unless
      // the corpus already contains another exact duplicate
      val dupProbe = Similarity.ivfTopKIndexed(spark, idxDir.toString,
          emb.filter(col("vec_id") === 20), "vec_id", "embedding",
          nProbe = 2, k = 3)
        .as[(Long, Long, Double, Int)].collect()
      assert(dupProbe.exists(r => r._2 === 100020L && r._3 > 0.999999),
        s"appended copy not reachable: ${dupProbe.toSeq}")
      val afterAppend = Similarity.ivfTopKIndexed(spark, idxDir.toString, q,
          "vec_id", "embedding", nProbe = 2, k = 3)
        .as[(Long, Long, Double, Int)].collect().toSet
      val (nBefore, nAfter) = Similarity.compactIvfIndex(spark, idxDir.toString)
      assert(nAfter < nBefore,
        s"IVF compaction must reduce file count, got $nBefore -> $nAfter")
      val afterCompact = Similarity.ivfTopKIndexed(spark, idxDir.toString, q,
          "vec_id", "embedding", nProbe = 2, k = 3)
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(afterCompact === afterAppend)
    } finally {
      val s = java.nio.file.Files.walk(idxDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("IVF append drift: skewed appends grow exactly their list — the audit's readout") {
    val emb = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") < 40)
    val idxDir = java.nio.file.Files.createTempDirectory("ivf_drift")
    try {
      Similarity.ensureIvfIndex(base, "vec_id", "embedding",
        nCentroids = 8, path = idxDir.toString)
      def listSizes: Map[Long, Long] = spark.read
        .parquet(s"$idxDir/postings")
        .groupBy(col("cent_id").cast("long").as("c")).count()
        .as[(Long, Long)].collect().toMap
      val before = listSizes
      // three skewed batches: copies of ONE vector — all land in its
      // frozen nearest centroid's list, the drift the audit must show
      (1 to 3).foreach { b =>
        Similarity.appendToIvfIndex(spark,
          base.filter(col("vec_id") === 20)
            .select((col("vec_id") + 1000L * b).as("vec_id"),
              col("embedding")),
          "vec_id", "embedding", idxDir.toString)
      }
      val after = listSizes
      val grew = after.filter { case (c, n) => n != before.getOrElse(c, 0L) }
      assert(grew.size === 1, s"expected exactly one list to grow: $grew")
      val (c, n) = grew.head
      assert(n === before(c) + 3,
        s"list $c should grow by the 3 appended copies: ${before(c)} -> $n")
    } finally {
      val s = java.nio.file.Files.walk(idxDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("rebalanceIvfIndex splits exactly the oversized list, preserves membership, no-ops otherwise") {
    val emb = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") < 40)
    val idxDir = java.nio.file.Files.createTempDirectory("ivf_rebal")
    try {
      Similarity.ensureIvfIndex(base, "vec_id", "embedding",
        nCentroids = 8, path = idxDir.toString)
      def listSizes: Map[Long, Long] = spark.read
        .parquet(s"$idxDir/postings")
        .groupBy(col("cent_id").cast("long").as("c")).count()
        .as[(Long, Long)].collect().toMap
      def memberIds: Set[Long] = spark.read.parquet(s"$idxDir/postings")
        .select("neighbor_id").as[Long].collect().toSet
      // no list oversized yet → provable no-op: zero splits, files
      // untouched (the swap never runs)
      val filesBefore = {
        val s = java.nio.file.Files.walk(idxDir)
        try s.toArray.toSeq.map(_.toString).sorted finally s.close()
      }
      assert(Similarity.rebalanceIvfIndex(spark, idxDir.toString,
        maxListSize = 1000) === 0L)
      val filesAfter = {
        val s = java.nio.file.Files.walk(idxDir)
        try s.toArray.toSeq.map(_.toString).sorted finally s.close()
      }
      assert(filesAfter === filesBefore, "no-op rebalance touched the index")
      // fatten one list with 30 exact copies of vec 20
      Similarity.appendToIvfIndex(spark,
        base.filter(col("vec_id") === 20)
          .crossJoin(spark.range(1, 31))
          .select((lit(100000L) + col("id")).as("vec_id"), col("embedding")),
        "vec_id", "embedding", idxDir.toString)
      val before = listSizes
      val idsBefore = memberIds
      val fat = before.maxBy(_._2)
      assert(fat._2 > 30)
      // collision guard (round-11 ADVICE): a subIdBase that lands a
      // generated sub-list id ON a surviving centroid id must be
      // refused loudly — silently merging two posting lists was the
      // hazard. The guard fires before the staged rewrite, so the
      // index is untouched.
      val survivor = before.keys.filter(_ != fat._1).max
      val collidingBase = survivor - 2 * fat._1
      val exCollide = intercept[IllegalArgumentException] {
        Similarity.rebalanceIvfIndex(spark, idxDir.toString,
          maxListSize = 25, subIdBase = collidingBase)
      }
      assert(exCollide.getMessage.contains("collide"))
      assert(listSizes === before, "refused rebalance mutated the index")
      val nSplit = Similarity.rebalanceIvfIndex(spark, idxDir.toString,
        maxListSize = 25)
      assert(nSplit === before.count(_._2 > 25))
      val after = listSizes
      // the fat list's id is gone, replaced by its two sub-lists whose
      // union is the old membership; untouched lists keep their sizes
      assert(!after.contains(fat._1), s"split list ${fat._1} still present")
      val subs = after.keys.filter(_ >= 1000000L).toSeq
      assert(subs.nonEmpty && subs.forall(c =>
        c == 1000000L + 2 * fat._1 || c == 1000000L + 2 * fat._1 + 1))
      assert(subs.map(after).sum === fat._2,
        "sub-list sizes do not sum to the split list")
      assert(memberIds === idsBefore, "rebalance lost or invented vectors")
      before.filter(_._1 != fat._1).foreach { case (c, n) =>
        assert(after(c) === n, s"untouched list $c changed size")
      }
      // every list now within bound (2-means on an exact-copy cluster
      // separates the copies from the rest)
      assert(after.values.max <= fat._2 - 1)
    } finally {
      val s = java.nio.file.Files.walk(idxDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("rebalance RESCUES recall after drifting appends (drop measured, recovery asserted)") {
    // Round-11 verdict #4: the bench rebalance fixture proves structure
    // (list sizes) but recall cannot move there by construction. This
    // is the fixture the audit exists for — appends that STRADDLE
    // centroid regions, with a query whose true top-k is the appends:
    //   centroids (first-2 convention): c0 ≈ e1, c1 ≈ e2
    //   appends: 30 copies of w = (.8,.6,0,0) → nearest frozen centroid
    //     is c0 (cos .8 > .6), so they land in c0's list
    //   query q = (.6,.8,0,0) → nearest centroid is c1 (cos .8 > .6),
    //     so an nProbe=1 probe NEVER opens the list holding the appends
    //     even though cos(q,w) = .96 dominates its true top-5
    // After 2-means splits c0's list, one sub-centroid sits at ≈w, the
    // probe selects it, and the appends are found — recall 0 → 1.
    val dim = 4
    def vec(x: Double, y: Double) = Array(x.toFloat, y.toFloat, 0f, 0f)
    val clusterA = Seq(0L, 2L, 3L, 4L, 5L)
      .map(i => (i, vec(1.0, 0.002 * i)))                      // near e1; id 0 = centroid 0
    val clusterB = Seq(1L, 6L, 7L, 8L, 9L)
      .map(i => (i, vec(0.002 * i, 1.0)))                      // near e2; id 1 = centroid 1
    val base = (clusterA ++ clusterB).toDF("vec_id", "embedding")
    val appends = (100L to 129L).map(i => (i, vec(0.8, 0.6)))
      .toDF("vec_id", "embedding")
    val q = Seq((1000L, vec(0.6, 0.8))).toDF("vec_id", "embedding")
    val idxDir = java.nio.file.Files.createTempDirectory("ivf_drift")
    try {
      Similarity.ensureIvfIndex(base, "vec_id", "embedding",
        nCentroids = 2, path = idxDir.toString)
      def recallAt5(corpus: org.apache.spark.sql.DataFrame): Double = {
        val topk = Similarity.ivfTopKIndexed(spark, idxDir.toString, q,
          "vec_id", "embedding", nProbe = 1, k = 5)
        val ground = Similarity.cosineTopK(q, corpus,
            "vec_id", "embedding", 5)
          .select(col("query_id"), col("neighbor_id"))
        val hits = topk.join(ground, Seq("query_id", "neighbor_id"))
          .count()
        hits.toDouble / 5.0
      }
      // healthy index: q's true top-5 is the e2 cluster, probed directly
      assert(recallAt5(base) === 1.0, "pre-append recall should be perfect")
      // drifting appends: true top-5 becomes the w-copies, which sit in
      // the UNPROBED list — recall collapses, exactly the decay the
      // append audit is built to catch
      Similarity.appendToIvfIndex(spark, appends, "vec_id", "embedding",
        idxDir.toString)
      val corpusAfter = base.unionByName(appends)
      val dropped = recallAt5(corpusAfter)
      assert(dropped === 0.0,
        s"drift fixture should collapse recall at nProbe=1, got $dropped")
      // the rescue: splitting the oversized straddled list plants a
      // sub-centroid at ≈w; the same nProbe=1 probe now finds the
      // appends
      val nSplit = Similarity.rebalanceIvfIndex(spark, idxDir.toString,
        maxListSize = 10)
      assert(nSplit === 1L)
      val recovered = recallAt5(corpusAfter)
      assert(recovered === 1.0,
        s"rebalance should recover recall@5 to 1.0, got $recovered")
    } finally {
      val s = java.nio.file.Files.walk(idxDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("crashed-swap recovery preserves appended IVF postings (no silent rebuild from corpus)") {
    val emb = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") < 40)
    val root = java.nio.file.Files.createTempDirectory("ivf_recover")
    val idx = new java.io.File(root.toFile, "idx")
    try {
      Similarity.ensureIvfIndex(base, "vec_id", "embedding",
        nCentroids = 8, path = idx.getPath)
      // appended copies of base vectors, reachable only via the append
      Similarity.appendToIvfIndex(spark,
        base.filter(col("vec_id") < 5)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")),
        "vec_id", "embedding", idx.getPath)
      // rewriteInPlace crash window: gated artifact parked at .old-<pid>,
      // nothing installed; re-ensure sees only the BASE corpus
      java.nio.file.Files.move(idx.toPath,
        new java.io.File(root.toFile, "idx.old-888").toPath)
      Similarity.ensureIvfIndex(base, "vec_id", "embedding",
        nCentroids = 8, path = idx.getPath)
      assert(new java.io.File(idx, "_OK").exists())
      val probe = Similarity.ivfTopKIndexed(spark, idx.getPath,
          base.filter(col("vec_id") === 2), "vec_id", "embedding",
          nProbe = 2, k = 3)
        .as[(Long, Long, Double, Int)].collect()
      assert(probe.exists(r => r._2 === 100002L && r._3 > 0.999999),
        s"appended exact copy unreachable => index was rebuilt, " +
          s"appends lost: ${probe.toSeq}")
    } finally {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("streamingAnnIngest fires the in-stream rebalance at the threshold crossing and equals the hand-driven fold") {
    // round-12 verdict #4: a straddling-append stream must cross the
    // list-size threshold MID-stream, rebalance there, and assign the
    // remaining batches against the POST-split quantizer — exactly
    // what the sequential (append, audit, maybe-rebalance) fold does.
    val emb = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") < 40)
    val root = java.nio.file.Files.createTempDirectory("ivf_stream_rebal")
    val streamIdx = new java.io.File(root.toFile, "stream").getPath
    val manualIdx = new java.io.File(root.toFile, "manual").getPath
    try {
      // deterministic build → two identical starting indexes
      Seq(streamIdx, manualIdx).foreach(p =>
        Similarity.ensureIvfIndex(base, "vec_id", "embedding",
          nCentroids = 8, path = p))
      def listMax(p: String): Long = spark.read.parquet(s"$p/postings")
        .groupBy("cent_id").count().agg(max("count")).as[Long].head()
      val fat0 = listMax(streamIdx)
      val maxListSize = fat0 + 15 // batch 1 (+10) stays under, batch 2 crosses
      def batch(b: Int): org.apache.spark.sql.DataFrame =
        base.filter(col("vec_id") === 20)
          .crossJoin(spark.range(0, 10))
          .select((lit(200000L + 1000L * b) + col("id")).as("vec_id"),
            col("embedding"))
      val all = (1 to 3).map(b => batch(b).withColumn("__batch", lit(b)))
        .reduce(_ unionByName _)
      val fired = graft.streaming.Streaming.streamingAnnIngest(spark,
        streamIdx, all.select(col("vec_id"), col("embedding"),
          col("__batch")),
        col("__batch"), "vec_id", "embedding", maxListSize)
      // hand-driven fold with the identical per-batch rule
      val manualFires = (1 to 3).flatMap { b =>
        Similarity.appendToIvfIndex(spark, batch(b), "vec_id", "embedding",
          manualIdx)
        if (listMax(manualIdx) > maxListSize &&
            Similarity.rebalanceIvfIndex(spark, manualIdx,
              maxListSize) > 0L) Some(b)
        else None
      }
      assert(manualFires.headOption === Some(2),
        s"threshold must cross MID-stream (batch 2), fold fired at $manualFires")
      assert(fired === manualFires.size.toLong,
        s"stream fired $fired rebalances, fold fired ${manualFires.size}")
      // identical index content: (cent_id, neighbor_id) assignment sets
      def assignments(p: String): Set[(Long, Long)] =
        spark.read.parquet(s"$p/postings")
          .select(col("cent_id").cast("long"), col("neighbor_id").cast("long"))
          .as[(Long, Long)].collect().toSet
      assert(assignments(streamIdx) === assignments(manualIdx))
      // identical probe results over the shared query set
      val q = base.filter(col("vec_id") < 10)
      def probes(p: String): Set[(Long, Long, Double, Int)] =
        Similarity.ivfTopKIndexed(spark, p, q, "vec_id", "embedding",
          nProbe = 2, k = 3).as[(Long, Long, Double, Int)].collect().toSet
      assert(probes(streamIdx) === probes(manualIdx))
    } finally {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("streamingAnnIngest audit reads no postings files and compaction bounds the file count") {
    // round-13 verdict #2, both halves. (a) O(stats) audit: across a
    // 20-batch no-rebalance stream the postings table is SCANNED
    // exactly once — the stream-start stats seed; every per-batch audit
    // folds the append's own increments. (b) file bound: appends land
    // one file per touched list per batch; the countFiles-gated
    // in-stream compactIvfIndex keeps the total bounded instead of
    // growing one-per-batch forever.
    val emb = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") < 40)
    val root = java.nio.file.Files.createTempDirectory("ivf_stream_audit")
    val idx = new java.io.File(root.toFile, "idx").getPath
    val postingsDir = new java.io.File(s"$idx/postings")
    // count executed reads whose analyzed plan scans this index's
    // postings dir (plain spark.read → LogicalRelation/HadoopFsRelation)
    val postingsScans = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def scans(
          qe: org.apache.spark.sql.execution.QueryExecution): Long =
        // write commands (the gated compaction's staged rewrite) scan
        // postings legitimately; the audit pathology under test is a
        // per-batch pure READ (aggregate + collect) of the table
        if (qe.analyzed.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.Command]) 0L
        else qe.analyzed.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation
              if r.relation.isInstanceOf[
                org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
                r.relation.asInstanceOf[
                    org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                  .location.rootPaths.exists(_.toString.contains(
                    postingsDir.getPath)) => 1L
        }.sum
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = {
        val n = scans(qe)
        if (n > 0 && sys.env.contains("GRAFT_SPEC_DEBUG"))
          System.err.println(s"[postings-scan] fn=$f node=${qe.analyzed.nodeName}\n" +
            qe.analyzed.treeString.linesIterator.take(6).mkString("\n"))
        postingsScans.addAndGet(n); ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    try {
      Similarity.ensureIvfIndex(base, "vec_id", "embedding",
        nCentroids = 8, path = idx)
      val nBatches = 20
      // one new vector per batch: the list-size max stays far under the
      // threshold (no rebalance, so no legitimate re-seed scan either)
      val incoming = base.filter(col("vec_id") < nBatches)
        .select((col("vec_id") + 300000L).as("vec_id"), col("embedding"),
          col("vec_id").as("__batch"))
      spark.listenerManager.register(listener)
      val fired =
        try {
          // gate 24 sits above the post-compaction baseline (~9 files
          // for 8 lists) so compaction fires ~once mid-stream instead
          // of thrashing every batch
          val f = graft.streaming.Streaming.streamingAnnIngest(spark, idx,
            incoming, col("__batch"), "vec_id", "embedding",
            maxListSize = 1000L, compactPastFiles = 24)
          // the listener bus is async — wait until the scan count is
          // quiescent before asserting on it
          var last = -1L
          var stable = 0
          val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
          while (stable < 5 && System.nanoTime() < deadline) {
            Thread.sleep(200)
            val cur = postingsScans.get()
            if (cur == last) stable += 1 else { stable = 0; last = cur }
          }
          f
        } finally spark.listenerManager.unregister(listener)
      assert(fired === 0L, "no rebalance expected in this stream")
      assert(postingsScans.get() === 1L,
        s"audit must not re-scan postings per batch: saw ${postingsScans.get()} " +
          s"scans over $nBatches batches (want 1 — the stats seed)")
      // file bound: well under one-file-per-batch accumulation (initial
      // build ~9 files + 20 appends would be ~29+ uncompacted)
      val files = graft.operators.IndexStore.countFiles(postingsDir)
      assert(files <= 26L,
        s"in-stream compaction must bound postings files, got $files after " +
          s"$nBatches single-list appends (gate 24)")
      // compaction preserved content: every appended id is probeable
      val n = spark.read.parquet(s"$idx/postings")
        .filter(col("neighbor_id") >= 300000L).count()
      assert(n === nBatches.toLong)
    } finally {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }
}
