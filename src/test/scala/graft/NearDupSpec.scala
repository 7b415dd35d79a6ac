package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{NearDup, Similarity, TextAnalysis}

class NearDupSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and agai"), // near-dup of 1
    (3L, "completely different content about database query engines here"),
    (4L, "another unrelated string with nothing shared at all zzz")
  ).toDF("doc_id", "text")

  test("minhashPairs finds the planted near-duplicate and nothing else") {
    val pairs = NearDup.minhashPairs(docs, col("doc_id"), col("text"),
        n = 8, k = 8, threshold = 0.5)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("jaccard of identical docs is 1.0") {
    val two = Seq((1L, "abcdefgh ijklmnop"), (2L, "abcdefgh ijklmnop"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("key_a", "key_b")
    val j = NearDup.ngramJaccard(two, col("doc_id"), col("text"), pairs, 8)
      .select("jacc").as[Double].head()
    assert(j === 1.0)
  }

  test("dedupClusters unions pairs into components labeled by min key") {
    // chain 1-2-3-4, isolated pair 10-11, triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("key_a", "key_b")
    val got = NearDup.dedupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("dedupClusters resolves a 2000-node chain within the log-round budget") {
    // a path graph is the worst case for label propagation (diameter =
    // n − 1 sequential rounds); the star-contraction alternation must
    // finish it inside the default 32-round backstop — this would have
    // thrown with the old O(diameter) loop
    val pairs = (1L until 2000L).map(i => (i, i + 1)).toDF("key_a", "key_b")
    val got = NearDup.dedupClusters(pairs)
    assert(got.count() === 2000L)
    assert(got.select("cluster_id").distinct().as[Long].collect().toSeq === Seq(1L))
    // shuffled key order must give the same clustering (min is global)
    val revPairs = (1L until 2000L).map(i => (2001L - i, 2000L - i))
      .toDF("key_a", "key_b")
    val rev = NearDup.dedupClusters(revPairs)
    assert(rev.count() === 2000L)
    assert(rev.select("cluster_id").distinct().as[Long].collect().toSeq === Seq(1L))
  }

  test("ngramJaccardSets agrees with the row-join jaccard on random docs") {
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 40L).map(i =>
      (i, (1 to 50).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString))
      .toDF("doc_id", "text")
    val pairs = (1L to 20L).map(i => (i, i + 20L)).toDF("key_a", "key_b")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("key_a", "key_b", "n_inter", "jacc")
      .as[(Long, Long, Long, Double)].collect().toSet
    val viaJoin = rows(NearDup.ngramJaccard(
      corpus, col("doc_id"), col("text"), pairs, 3))
    val viaSets = rows(NearDup.ngramJaccardSets(
      corpus, col("doc_id"), col("text"), pairs, 3))
    assert(viaSets === viaJoin)
  }

  test("simhash16 is equal for identical docs, 16 bits long") {
    val two = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "totally other words here"))
      .toDF("doc_id", "text")
    val fp = NearDup.simhash16(two, col("doc_id"), col("text"))
      .orderBy("key").select("simhash").as[String].collect()
    assert(fp(0) === fp(1))
    assert(fp.forall(s => s.length == 16 && s.forall(c => c == '0' || c == '1')))
  }

  test("simhashPairs finds every pair within maxHam (pigeonhole recall) and drops the rest") {
    // synthetic 32-bit signatures: the banding join must find any pair at
    // hamming ≤ 3 (≤ 3 of 4 bands touched ⇒ one band agrees exactly) and
    // the exact verify must drop pairs beyond maxHam even when they share
    // a band.
    val zero = "0" * 32
    def flip(s: String, idxs: Int*): String =
      idxs.foldLeft(s)((acc, i) => acc.updated(i, if (acc(i) == '0') '1' else '0'))
    val sigs = Seq(
      1L -> zero,
      2L -> flip(zero, 0, 8, 16),      // ham 3, spread over 3 bands → must be found
      3L -> flip(zero, 31),            // ham 1 → found
      4L -> flip(zero, 0, 1, 2, 3, 8)  // ham 5 vs key 1, shares bands 3+4 → dropped by verify
    ).toDF("key", "simhash")
    val got = NearDup.simhashPairs(sigs, nBits = 32, nBands = 4, maxHam = 3)
      .select("key_a", "key_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(got.contains((1L, 2L, 3)))
    assert(got.contains((1L, 3L, 1)))
    assert(got.contains((2L, 3L, 4)) === false)  // ham 4 > maxHam
    assert(!got.exists { case (a, b, _) => (a, b) == (1L, 4L) })
  }

  test("simhashPairs maxBucket caps fat buckets; simhashBandStats audits the drop") {
    // 4 bands of 8 bits. Keys 1-10: the all-zero signature — a 10-wide
    // bucket in band 0 and fat shared buckets everywhere. Key 20 flips
    // bits 0-8 (band 0 fully + band 1's first bit); key 21 flips bits
    // 0-7 (band 0 only). Bucket census:
    //   band 0: "00000000"×10 (cluster), "11111111"×2 ({20,21})
    //   band 1: "00000000"×11 (cluster + 21), "10000000"×1 (20)
    //   band 2: "00000000"×12      band 3: "00000000"×12
    // With maxBucket=9 only the {20,21} 2-bucket survives, so the
    // cluster's 45 ham-0 intra-pairs vanish while (20,21) (ham 1, found
    // through the SMALL bucket) is kept — the cap drops fat-bucket-only
    // pairs and nothing else.
    val zero = "0" * 32
    def flip(s: String, idxs: Int*): String =
      idxs.foldLeft(s)((acc, i) => acc.updated(i, if (acc(i) == '0') '1' else '0'))
    val cluster = (1L to 10L).map(_ -> zero)
    val sigs = (cluster :+ (20L -> flip(zero, 0 to 8: _*))
      :+ (21L -> flip(zero, 0 to 7: _*))).toDF("key", "simhash")
    val uncapped = NearDup.simhashPairs(sigs, 32, 4, maxHam = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(uncapped.count { case (x, y, _) => x <= 10 && y <= 10 } === 45)
    assert(uncapped.contains((20L, 21L, 1)))
    assert(uncapped.size === 46) // cluster↔20/21 are ham 9/8, verify-dropped
    val capped = NearDup.simhashPairs(sigs, 32, 4, maxHam = 3, maxBucket = 9)
      .as[(Long, Long, Int)].collect().toSet
    assert(capped === Set((20L, 21L, 1)))
    // audit counters match the census: 5 buckets ≥2; 4 exceed the cap;
    // kept candidates C(2,2)=1; dropped C(10,2)+C(11,2)+2·C(12,2)=232
    val st = NearDup.simhashBandStats(sigs, 32, 4, maxBucket = 9)
      .as[(Long, Long, Long, Long)].collect().head
    assert(st === ((5L, 4L, 1L, 232L)))
  }

  test("repetitionStats computes top-word share and duplicate 2-gram fraction") {
    val d = Seq(
      (1L, "a a b"),      // top word a: 2/3; grams "a a","a b" distinct → dup 0
      (2L, "x x x x"),    // top 1.0; grams "x x"×3, 1 distinct → dup 2/3
      (3L, "only")        // single word: 1 gram ("only"), dup 0
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionStats(d, col("doc_id"), col("text"))
      .orderBy("key")
      .select("key", "n_words", "top_word_frac", "dup_2gram_frac")
      .as[(Long, Long, Double, Double)].collect()
    assert(rows(0) === ((1L, 3L, 2.0 / 3.0, 0.0)))
    assert(rows(1) === ((2L, 4L, 1.0, 1.0 - 1.0 / 3.0)))
    assert(rows(2) === ((3L, 1L, 1.0, 0.0)))
  }

  test("16-permutation minhash signatures: second digest fills seeds 8-15") {
    val docs = Seq(
      (1L, (1 to 30).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 30).map(i => s"w$i").mkString(" ")),  // identical
      (3L, (1 to 30).map(i => s"x$i").mkString(" "))   // disjoint
    ).toDF("doc_id", "text")
    val sh = NearDup.wordShingleDigests(docs, col("doc_id"), col("text"), 5)
    val sig = NearDup.minhashSig(sh, 16)
    assert(sig.columns.toSeq === "key" +: (0 until 16).map(i => s"mh$i"))
    val rows = sig.orderBy("key").collect()
    // identical docs agree on every permutation; disjoint docs differ on
    // at least one in each digest half
    assert((1 to 16).forall(i => rows(0).getString(i) === rows(1).getString(i)))
    assert((1 to 8).exists(i => rows(0).getString(i) !== rows(2).getString(i)))
    assert((9 to 16).exists(i => rows(0).getString(i) !== rows(2).getString(i)))
    // and the full pipeline still finds the planted pair at k = 16
    val pairs = NearDup.minhashPairs(docs, col("doc_id"), col("text"),
        n = 5, k = 16, threshold = 0.5)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("editDistancePairs keeps pairs within the bound with exact distances") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fax"),   // dist 1 from doc 1
      (3L, "the quick brown foxes"), // dist 2 from doc 1, 3 from doc 2
      (4L, "entirely different words here")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
      .toDF("key_a", "key_b")
    val got = NearDup.editDistancePairs(docs, col("doc_id"), col("text"),
        pairs, maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    // (2,3) is distance 3 → dropped; (1,4) far → dropped
    assert(got === Set((1L, 2L, 1), (1L, 3L, 2)))
  }

  test("bigramLmScore ranks corpus-typical text above one-off gibberish") {
    // "the cat sat" repeated across docs → its bigrams dominate the
    // corpus counts; doc 4's bigrams each occur once in unique contexts
    val d = Seq(
      (1L, "the cat sat"),
      (2L, "the cat sat"),
      (3L, "the cat sat"),
      (4L, "zq blorp wug"),
      (5L, "solo")          // < 2 tokens → excluded
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.bigramLmScore(d, col("doc_id"), col("text"))
      .orderBy("key")
      .as[(Long, Long, Double)].collect()
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    // fluent docs: p(cat|the)=1, p(sat|cat)=1 → mean 1.0
    assert(rows.take(3).forall(_._3 === 1.0))
    // gibberish: each bigram 1/1 in its own context → also 1.0? no —
    // contexts are unique so c2=c1=1 per bigram; plant a shared context
    // with divergent continuations instead:
    val d2 = Seq(
      (1L, "the cat sat"), (2L, "the cat sat"), (3L, "the cat sat"),
      (4L, "the dog ran")  // p(dog|the)=1/4, p(ran|dog)=1
    ).toDF("doc_id", "text")
    val r2 = TextAnalysis.bigramLmScore(d2, col("doc_id"), col("text"))
      .orderBy("key").as[(Long, Long, Double)].collect()
    // typical docs: mean(p(cat|the)=3/4, p(sat|cat)=1) = 0.875
    assert(r2.take(3).forall(_._3 === 0.875))
    // divergent doc scores below them: mean(1/4, 1) = 0.625
    assert(r2(3)._3 === 0.625)
    assert(r2(3)._3 < r2(0)._3)
  }

  test("dedupClusters labels self-paired isolated nodes (contract: every node in pairs)") {
    val pairs = Seq((7L, 7L), (1L, 2L), (3L, 3L)).toDF("key_a", "key_b")
    val got = NearDup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 7L -> 7L))
    // all-self-pairs input: no contraction happens, every node self-labels
    val onlySelf = Seq((5L, 5L)).toDF("key_a", "key_b")
    assert(NearDup.dedupClusters(onlySelf).as[(Long, Long)].collect().toMap
      === Map(5L -> 5L))
  }

  test("dedupClusters on an empty pair graph returns an empty frame (no NPE)") {
    val empty = Seq.empty[(Long, Long)].toDF("key_a", "key_b")
    assert(NearDup.dedupClusters(empty).count() === 0)
  }

  test("incrementalSurvivors drops near-dups of the existing corpus, keeps novel docs") {
    // 30-word doc; the incoming copy changes ONLY the last word, so 25 of
    // 26 word-5-shingles are shared (jacc ≈ 0.93 ≥ 0.5 → dropped). The
    // novel doc shares no shingles → survives (even on a band collision,
    // the exact verify reads jacc 0).
    val base = ('a' to 'z').map(_.toString) ++ Seq("aa", "bb", "cc", "dd")
    val existing = Seq((1L, base.mkString(" "))).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, (base.init :+ "zz").mkString(" ")),
      (11L, (1 to 30).map(i => s"n$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = NearDup.incrementalSurvivors(existing, incoming,
        col("doc_id"), col("text"), n = 5, k = 8, threshold = 0.5)
      .orderBy("key").as[Long].collect()
    assert(got === Array(11L))
  }

  test("indexed incremental dedup equals the direct form on a real corpus slice") {
    // materialize the index for half the sf0.001 docs, then run a batch
    // of near-dup copies + novel docs against it both ways
    val d = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val existing = d.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
    // near-dup copies of a subset of existing (% 6 = 0 implies % 2 = 0)
    // plus novel odd-id docs
    val incoming = d.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + 500000).as("doc_id"),
        col("text").substr(lit(1), length(col("text")) - 5).as("text"))
      .unionByName(d.filter(col("doc_id") % 2 === 1).limit(40)
        .select("doc_id", "text"))
    val idxDir = java.nio.file.Files.createTempDirectory("neardup_idx")
    try {
      NearDup.writeNearDupIndex(existing, col("doc_id"), col("text"),
        n = 5, k = 8, path = idxDir.toString)
      val direct = NearDup.incrementalSurvivors(existing, incoming,
          col("doc_id"), col("text"), n = 5, k = 8, threshold = 0.5)
        .as[Long].collect().toSet
      spark.catalog.clearCache()
      val indexed = NearDup.incrementalSurvivorsIndexed(spark, idxDir.toString,
          incoming, col("doc_id"), col("text"), n = 5, k = 8, threshold = 0.5)
        .as[Long].collect().toSet
      assert(indexed === direct)
      assert(indexed.nonEmpty && indexed.size < incoming.count())
    } finally {
      val s = java.nio.file.Files.walk(idxDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("compactNearDupIndex shrinks file count and is probe-equivalent on a ≥3-batch index") {
    val d = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val base = d.filter(col("doc_id") % 4 === 0).select("doc_id", "text")
    val idxDir = java.nio.file.Files.createTempDirectory("neardup_compact_idx")
    try {
      NearDup.ensureNearDupIndex(base, col("doc_id"), col("text"),
        n = 5, k = 8, path = idxDir.toString)
      // three append batches of novel docs — one small file per band per
      // batch, the accumulation compaction exists to clean up
      (1 to 3).foreach { b =>
        NearDup.appendToNearDupIndex(
          d.filter(col("doc_id") % 4 === b).limit(30).select("doc_id", "text"),
          col("doc_id"), col("text"), n = 5, k = 8, path = idxDir.toString)
      }
      // near-dup copies of indexed docs (dropped by the probe) PLUS
      // genuinely novel docs (reversed text → disjoint shingles) that
      // must SURVIVE — so the before/after equality below compares a
      // non-empty survivor set, not two vacuous empties
      val incoming = d.limit(60)
        .select((col("doc_id") + 700000).as("doc_id"),
          col("text").substr(lit(1), length(col("text")) - 5).as("text"))
        .unionByName(d.limit(5)
          .select((col("doc_id") + 800000).as("doc_id"),
            reverse(col("text")).as("text")))
      val before = NearDup.incrementalSurvivorsIndexed(spark, idxDir.toString,
          incoming, col("doc_id"), col("text"), n = 5, k = 8, threshold = 0.5)
        .as[Long].collect().toSet
      assert(before.nonEmpty, "novel reversed docs must survive the probe")
      val (nBefore, nAfter) =
        NearDup.compactNearDupIndex(spark, idxDir.toString)
      assert(nAfter < nBefore,
        s"compaction must reduce file count, got $nBefore -> $nAfter")
      assert(new java.io.File(idxDir.toFile, "_OK").exists())
      val after = NearDup.incrementalSurvivorsIndexed(spark, idxDir.toString,
          incoming, col("doc_id"), col("text"), n = 5, k = 8, threshold = 0.5)
        .as[Long].collect().toSet
      assert(after === before)
      // the index is still appendable and probe-consistent post-compact
      NearDup.appendToNearDupIndex(
        d.filter(col("doc_id") % 4 === 1).limit(10).select("doc_id", "text"),
        col("doc_id"), col("text"), n = 5, k = 8, path = idxDir.toString)
      assert(NearDup.incrementalSurvivorsIndexed(spark, idxDir.toString,
        incoming, col("doc_id"), col("text"), n = 5, k = 8,
        threshold = 0.5).count() > 0)
    } finally {
      val s = java.nio.file.Files.walk(idxDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("minhashPairsIndexed equals minhashPairs and reuses the built index") {
    val d = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 100)
    val corpus = d.select("doc_id", "text").unionByName(
      d.select((col("doc_id") + 1000000).as("doc_id"),
        col("text").substr(lit(1), length(col("text")) - 10).as("text")))
    val idxDir = java.nio.file.Files.createTempDirectory("neardup_pairs_idx")
    try {
      val direct = NearDup.minhashPairs(corpus, col("doc_id"), col("text"),
          n = 5, k = 8, threshold = 0.5)
        .select("key_a", "key_b").as[(Long, Long)].collect().toSet
      val indexed = NearDup.minhashPairsIndexed(spark, idxDir.toString,
          corpus, col("doc_id"), col("text"), n = 5, k = 8, threshold = 0.5)
        .select("key_a", "key_b").as[(Long, Long)].collect().toSet
      assert(indexed === direct)
      assert(indexed.nonEmpty)
      assert(new java.io.File(idxDir.toFile, "_OK").exists())
      // second mining pass hits the stored tables (the marker gates the
      // rebuild); results identical
      val again = NearDup.minhashPairsIndexed(spark, idxDir.toString,
          corpus, col("doc_id"), col("text"), n = 5, k = 8, threshold = 0.5)
        .select("key_a", "key_b").as[(Long, Long)].collect().toSet
      assert(again === direct)
    } finally {
      val s = java.nio.file.Files.walk(idxDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("containmentPairsIndexed equals containmentPairs on the stored index") {
    val d = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 100)
    // truncated copies: high containment on the contained side
    val corpus = d.select("doc_id", "text").unionByName(
      d.select((col("doc_id") + 1000000).as("doc_id"),
        col("text").substr(lit(1), (length(col("text")) * 3) / 4).as("text")))
    val idxDir = java.nio.file.Files.createTempDirectory("neardup_cont_idx")
    try {
      val direct = NearDup.containmentPairs(corpus, col("doc_id"), col("text"),
          n = 5, k = 8, threshold = 0.9)
        .select("key_a", "key_b", "containment")
        .as[(Long, Long, Double)].collect().toSet
      val indexed = NearDup.containmentPairsIndexed(spark, idxDir.toString,
          corpus, col("doc_id"), col("text"), n = 5, k = 8, threshold = 0.9)
        .select("key_a", "key_b", "containment")
        .as[(Long, Long, Double)].collect().toSet
      assert(indexed === direct)
      assert(indexed.nonEmpty)
      // the index is shared state: a subsequent Jaccard mining pass hits
      // the same stored tables without a rebuild
      assert(new java.io.File(idxDir.toFile, "_OK").exists())
      val pairs = NearDup.minhashPairsIndexed(spark, idxDir.toString,
          corpus, col("doc_id"), col("text"), n = 5, k = 8, threshold = 0.5)
      assert(pairs.count() > 0)
    } finally {
      val s = java.nio.file.Files.walk(idxDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("ensureNearDupIndex tears down an un-gated (crashed) index and installs atomically") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("neardup_ensure")
    val idx = new java.io.File(root.toFile, "idx")
    try {
      // a crashed build: directory exists, junk inside, NO _OK marker
      new java.io.File(idx, "bands").mkdirs()
      val junk = new java.io.File(idx, "bands/part-junk.parquet")
      java.nio.file.Files.writeString(junk.toPath, "not parquet")
      NearDup.ensureNearDupIndex(docs, col("doc_id"), col("text"),
        n = 2, k = 8, path = idx.getPath)
      assert(new java.io.File(idx, "_OK").exists())
      assert(!junk.exists(), "crashed build debris must be torn down")
      // staging dir cleaned up after the install
      val stale = Option(root.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("idx.stage-"))
      assert(stale.isEmpty, s"staging left behind: ${stale.mkString(",")}")
      // the installed index is complete and probe-able
      assert(spark.read.parquet(s"${idx.getPath}/bands").count() > 0)
      assert(spark.read.parquet(s"${idx.getPath}/sets").count() === 2)
      // idempotent: second call is a no-op (mtime-stable _OK)
      val stamp = new java.io.File(idx, "_OK").lastModified()
      NearDup.ensureNearDupIndex(docs, col("doc_id"), col("text"),
        n = 2, k = 8, path = idx.getPath)
      assert(new java.io.File(idx, "_OK").lastModified() === stamp)
    } finally {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("lshBands with 4 rows per band yields 4 wider, more selective bands") {
    val docs = Seq((1L, (1 to 30).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val sh = NearDup.wordShingleDigests(docs, col("doc_id"), col("text"), 5)
    val bands = NearDup.lshBands(NearDup.minhashSig(sh, 16), 16, rowsPerBand = 4)
    val rows = bands.orderBy("band").collect()
    assert(rows.map(_.getInt(1)).toSeq === Seq(0, 1, 2, 3))
    // each band value concatenates 4 16-hex windows with 3 separators
    assert(rows.forall(_.getString(2).length === 4 * 16 + 3))
    intercept[IllegalArgumentException] {
      NearDup.lshBands(NearDup.minhashSig(sh, 16), 16, rowsPerBand = 3)
    }
  }

  test("bpePairCounts ranks adjacent char pairs by corpus frequency, ties by pair") {
    val d = Seq((1L, "abc abc ab"), (2L, "bc")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairCounts(d, col("text"), k = 2)
      .as[(String, Long)].collect()
    assert(got === Array(("ab", 3L), ("bc", 3L)))
  }

  test("bpeTrain learns the hand-computed ordered merge table") {
    // corpus: aaab ×2, ab ×1.
    // round 1: (a,a) freq 4 beats (a,b) freq 3 → merge "aa"
    //   (greedy left-to-right inside "a a a b": ONE merge, not two)
    // round 2: (a,b) freq 3 beats (aa,a) freq 2 → merge "ab"
    // round 3: (aa,ab) freq 2 (the 1-symbol word "ab" contributes no
    //   pairs) → merge "aaab"
    val d = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(d, col("text"), merges = 3)
      .orderBy("merge_no")
      .as[(Int, String, String, Long, String)].collect()
    assert(got === Array(
      (1, "a", "a", 4L, "aa"),
      (2, "a", "b", 3L, "ab"),
      (3, "aa", "ab", 2L, "aaab")))
    // encode side: after the 3 merges "aaab" is one token, "ab" one token
    val vocab = TextAnalysis.bpeVocab(d, col("text"), merges = 3)
      .orderBy("token").as[(String, Long, Long)].collect()
    assert(vocab === Array(("aaab", 2L, 1L), ("ab", 1L, 1L)))
  }

  test("lineDedup keeps first occurrence of duplicated chunks and rebuilds text") {
    val d = Seq(
      (1L, "a b c d"), // chunks of 2: "a b", "c d"
      (2L, "a b x y"), // "a b" already seen at (1,0) → keeps only "x y"
      (3L, "c d")      // its only chunk seen at (1,1) → doc vanishes
    ).toDF("doc_id", "text")
    val got = graft.operators.Corpus.lineDedup(d, col("doc_id"), col("text"),
        lineWords = 2)
      .orderBy("key").select("key", "n_lines_kept", "clean_text")
      .as[(Long, Long, String)].collect()
    assert(got === Array((1L, 2L, "a b c d"), (2L, 1L, "x y")))
  }

  test("cosineTopK ranks an identical vector first with cos 1.0") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),   // identical to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
      (3L, Array(-1.0f, 0.0f, 0.0f))   // opposite
    ).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(emb.filter($"vec_id" === 0), emb,
        "vec_id", "embedding", k = 3)
      .orderBy("rank").select("neighbor_id", "cos").as[(Long, Double)].collect()
    assert(top(0) === ((1L, 1.0)))
    assert(top(1)._2 === 0.0)
    assert(top(2) === ((3L, -1.0)))
  }

  test("bucketedTopK only returns neighbors from the same sign bucket") {
    // seeded-hyperplane invariants: a positive scaling never changes any
    // projection sign (same bucket); the exact negation flips EVERY
    // projection (components sum to an odd integer under any ±1 plane,
    // so no projection can sit on the 0 boundary) — different bucket.
    val emb = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f, 5.0f)),
      (1L, Array(2.0f, 4.0f, 6.0f, 10.0f)),   // 2× v0: same bucket
      (2L, Array(-1.0f, -2.0f, -3.0f, -5.0f)) // −v0: all bits flip
    ).toDF("vec_id", "embedding")
    Similarity.registerNative(spark)
    val buckets = emb.select($"vec_id",
        Similarity.signBucket(col("embedding"), 4, 4).as("b"))
      .as[(Long, String)].collect().toMap
    assert(buckets(0) === buckets(1))
    assert(buckets(0) !== buckets(2))
    val got = Similarity.bucketedTopK(emb.filter($"vec_id" === 0), emb,
        "vec_id", "embedding", nBits = 4, dim = 4, k = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got === Set(1L))
  }

  test("containmentPairs scores a prefix doc 1.0 on its contained side") {
    val long = (1 to 40).map(i => s"tok$i").mkString(" ")
    val short = (1 to 25).map(i => s"tok$i").mkString(" ")  // strict prefix
    val other = (100 to 140).map(i => s"zzz$i").mkString(" ")
    val d = Seq((1L, long), (2L, short), (3L, other)).toDF("doc_id", "text")
    val got = NearDup.containmentPairs(d, col("doc_id"), col("text"),
        n = 5, k = 8, threshold = 0.9)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(got.length === 1)
    val (a, b, ca, cb, c) = got.head
    assert(Set(a, b) === Set(1L, 2L))
    // the short doc's shingles are ALL inside the long doc's
    val contShort = if (a == 2L) ca else cb
    assert(contShort === 1.0 && c === 1.0)
    // while the symmetric Jaccard on the same pair is well below 0.9 —
    // containment catches what the size gap hides from Jaccard
    val jacc = NearDup.minhashPairs(d, col("doc_id"), col("text"),
        n = 5, k = 8, threshold = 0.0)
      .filter(col("key_a") === 1L && col("key_b") === 2L)
      .select("jacc").as[Double].collect().head
    assert(jacc < 0.9, s"fixture should have a real size gap, jacc=$jacc")
  }

  test("multiProbeTopK strictly widens the single-bucket candidate set") {
    val emb = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 200).select("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 5)
    // k large enough that no candidate is truncated: the probe set is a
    // superset of the exact bucket, so results must be a superset too
    val single = Similarity.bucketedTopK(q, emb, "vec_id", "embedding",
        nBits = 4, dim = 64, k = 200)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val multi = Similarity.multiProbeTopK(q, emb, "vec_id", "embedding",
        nBits = 4, dim = 64, nProbe = 3, k = 200)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(single.subsetOf(multi))
    assert(multi.size > single.size,
      "flipping two bits should reach at least one extra candidate")
    // nProbe=1 degenerates to the exact-bucket probe
    val one = Similarity.multiProbeTopK(q, emb, "vec_id", "embedding",
        nBits = 4, dim = 64, nProbe = 1, k = 200)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(one === single)
  }

  test("orLshTopK: table 0 is signBucket; OR-union widens candidates monotonically") {
    val emb = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 200).select("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 5)
    // table 0 reuses plane bits 0..nBits-1, so nTables=1 must equal the
    // single-bucket probe exactly
    val single = Similarity.bucketedTopK(q, emb, "vec_id", "embedding",
        nBits = 4, dim = 64, k = 200)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val or1 = Similarity.orLshTopK(q, emb, "vec_id", "embedding",
        nBits = 4, dim = 64, nTables = 1, k = 200)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(or1 === single)
    // each added table can only ADD candidates (OR-construction)
    val or4 = Similarity.orLshTopK(q, emb, "vec_id", "embedding",
        nBits = 4, dim = 64, nTables = 4, k = 200)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(single.subsetOf(or4))
    assert(or4.size > single.size,
      "three extra independent tables should reach at least one extra candidate")
    // recall@5 against brute force clears the documented 0.8 bar at 16
    // tables even on these near-uniform (LSH-adversarial) embeddings
    val ground = Similarity.cosineTopK(q, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val or16 = Similarity.orLshTopK(q, emb, "vec_id", "embedding",
        nBits = 4, dim = 64, nTables = 16, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (or16 & ground).size.toDouble / ground.size
    assert(recall >= 0.8, s"recall@5 $recall below the OR-amplification bar")
  }

  test("langId picks the language whose markers dominate") {
    val d = Seq((1L, "the cat and the hat of the house"),
      (2L, "scan row data scan row data")).toDF("doc_id", "text")
    val got = TextAnalysis.langId(d, col("doc_id"), col("text"))(spark)
      .orderBy("key").select("pred_lang").as[String].collect()
    assert(got.toSeq === Seq("en", "es"))
  }

  test("langIdCol (no-shuffle argmax) matches the aggregate langId") {
    val d = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val agg = TextAnalysis.langId(d, col("doc_id"), col("text"))(spark)
      .select(col("key"), col("pred_lang"))
    val colwise = d.select(col("doc_id").as("key"),
      TextAnalysis.langIdCol(col("text")).as("pred_lang"))
    assert(agg.exceptAll(colwise).count() === 0)
    assert(colwise.exceptAll(agg).count() === 0)
  }

  test("intervalJoinBinned matches exact window semantics at boundaries") {
    import graft.operators.Analytics
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val probe = Seq((1L, "k", ts("2024-01-01 00:00:00")))
      .toDF("event_id", "user_id", "ts")
    val quote = Seq(
      (10L, "k", ts("2024-01-01 00:00:00")),  // at probe ts  -> included
      (11L, "k", ts("2024-01-01 00:59:59")),  // inside       -> included
      (12L, "k", ts("2024-01-01 01:00:00")),  // at +1h bound -> excluded
      (13L, "k", ts("2023-12-31 23:59:59")),  // before       -> excluded
      (14L, "x", ts("2024-01-01 00:30:00")))  // other key    -> excluded
      .toDF("event_id", "user_id", "ts")
    val got = Analytics.intervalJoinBinned(probe, quote, "user_id", "ts", 3600)
      .select("q_event_id").as[Long].collect().toSet
    assert(got === Set(10L, 11L))
  }

  test("fingerprint changes only when low-hash shingles change") {
    val d = Seq((1L, "abcdefghijklmnopqrstuvwxyz0123456789"))
      .toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(d, col("doc_id"), col("text"), 8, 4)
      .select("fingerprint").as[String].head()
    assert(fp.length === 4 * 32) // 4 concatenated md5 hex digests
  }

  test("gridRadiusJoin finds exactly the in-radius pairs, including across cells") {
    val pts = Seq(
      (1L, 100L, 100L), (2L, 103L, 104L), // dist² = 25 → in (radius 5)
      (3L, 100L, 106L),                   // dist² to 1 = 36 → out
      (4L, 99L, 99L),                     // crosses the cell boundary at 100
      (5L, 500L, 500L)                    // far
    ).toDF("id", "x", "y")
    val got = graft.operators.Spatial.gridRadiusJoin(
        pts, pts.filter(col("id") === 1), col("id"), col("x"), col("y"),
        radius = 5L, cellSize = 5L)
      .select("p_id", "dist2").as[(Long, Long)].collect().toSet
    // 2 at dist² 25 (= r², ≤ keeps it) and 4 at dist² 2 across the
    // cell edge; 3 excluded by verify, 5 by blocking, self excluded
    assert(got === Set((2L, 25L), (4L, 2L)))
  }

  test("sortedNeighborhood pairs only within the window and verifies by distance") {
    val d = Seq(
      // one block; sort key = length → 1,2,3 adjacent, 4 far but still
      // within gap ≤ 2 of doc 3 (only dist excludes it)
      (1L, "b1", 10L, "aaaaaaaaaa"),
      (2L, "b1", 11L, "aaaaaaaaab"),   // dist 1 from doc 1
      (3L, "b1", 12L, "aaaaaaaabb"),   // dist 2 from 1, 1 from 2
      (4L, "b1", 100L, "zzzzzzzzzz"),  // verified against 2,3 → too far
      (5L, "b2", 10L, "aaaaaaaaaa")    // other block: never pairs with b1
    ).toDF("id", "blk", "len", "p")
    val got = NearDup.sortedNeighborhood(d, col("id"), col("blk"),
        Seq(col("len"), col("id")), col("p"), w = 2, maxDist = 3)
      .select("a_id", "b_id", "gap", "dist")
      .as[(Long, Long, Int, Int)].collect().toSet
    assert(got === Set((1L, 2L, 1, 1), (1L, 3L, 2, 2), (2L, 3L, 1, 1)))
  }

  test("JaroWinkler.compute matches the Winkler 1990 reference values") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    import graft.functions.JaroWinkler.compute
    def approx(a: Double, b: Double) = math.abs(a - b) < 1e-12
    assert(approx(compute(u("MARTHA"), u("MARHTA")), 0.9611111111111111))
    assert(approx(compute(u("DIXON"), u("DICKSONX")), 0.8133333333333332))
    assert(compute(u("same"), u("same")) === 1.0)
    assert(compute(u(""), u("")) === 1.0)
    assert(compute(u("abc"), u("")) === 0.0)
    assert(compute(u("abc"), u("xyz")) === 0.0)
    // below the 0.7 boost threshold the prefix bonus must NOT apply:
    // jaro(abcdef, abdcfe)... use a pair with shared prefix but low jaro
    val low = compute(u("aXXXXXXX"), u("aYYYYYYY")) // m=1, long strings
    val jaro = (1.0 / 8 + 1.0 / 8 + 1.0) / 3
    assert(approx(low, jaro)) // no + l*0.1*(1-jaro) added
  }

  test("entityMatch links char-dropped corruptions through prefix blocks") {
    val left = Seq((1L, "goldenrod lace"), (2L, "midnight plum"), (3L, "aqua tan"))
      .toDF("k", "name")
    // corrupted twins (char 6 dropped) + one unrelated right-side row
    val right = Seq((101L, "goldeod lace"), (102L, "midniht plum"), (999L, "zzzzz different"))
      .toDF("k", "name")
    val out = NearDup.entityMatch(left, right,
        col("k"), col("name"), col("k"), col("name"),
        n => substring(n, 1, 5), threshold = 0.9)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 101L), (2L, 102L)))
  }

  test("IndexStore.ensure recovers a gated .old backup from a crashed swap without rebuilding") {
    import graft.operators.IndexStore
    val root = java.nio.file.Files.createTempDirectory("idxstore_crash")
    val idx = new java.io.File(root.toFile, "art")
    try {
      // v1 artifact: gated, with a marker only the ORIGINAL build has
      idx.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(idx, "payload").toPath, "v1-with-appends")
      IndexStore.okAt(idx).createNewFile()
      // crash window of rewriteInPlace: old moved aside (still gated),
      // replacement never installed — plus a gateless husk at the path
      // (a concurrent crashed build) that must LOSE to the gated backup
      val old = new java.io.File(root.toFile, "art.old-424242")
      java.nio.file.Files.move(idx.toPath, old.toPath)
      new java.io.File(idx, "junk").mkdirs()
      var built = false
      IndexStore.ensure(idx.getPath) { _ => built = true }
      assert(!built, "recovery must NOT rebuild (a rebuild loses appends)")
      assert(IndexStore.okAt(idx).exists(), "recovered artifact must be gated")
      assert(java.nio.file.Files.readString(
        new java.io.File(idx, "payload").toPath) === "v1-with-appends")
      assert(!old.exists(), ".old backup must be consumed by recovery")
      assert(!new java.io.File(idx, "junk").exists(),
        "the gateless husk must be torn down, not merged")
    } finally {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("IndexStore.rewriteInPlace cleans its stage dir and keeps the artifact when rewrite throws") {
    import graft.operators.IndexStore
    val root = java.nio.file.Files.createTempDirectory("idxstore_throw")
    val idx = new java.io.File(root.toFile, "art")
    try {
      idx.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(idx, "payload").toPath, "intact")
      IndexStore.okAt(idx).createNewFile()
      val boom = intercept[RuntimeException] {
        IndexStore.rewriteInPlace(idx.getPath) { stage =>
          // partial stage output, then failure mid-rewrite
          new java.io.File(stage).mkdirs()
          java.nio.file.Files.writeString(
            new java.io.File(stage, "half").toPath, "partial")
          throw new RuntimeException("rewrite blew up")
        }
      }
      assert(boom.getMessage === "rewrite blew up")
      assert(IndexStore.okAt(idx).exists() &&
        java.nio.file.Files.readString(
          new java.io.File(idx, "payload").toPath) === "intact",
        "a failed rewrite must leave the artifact untouched")
      val leaked = Option(root.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("art.compact-"))
      assert(leaked.isEmpty, s"stage dir leaked: ${leaked.mkString(",")}")
    } finally {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("crashed-swap recovery preserves appended near-dup batches (no silent rebuild from corpus)") {
    val d = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val base = d.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
    val appended = d.filter(col("doc_id") % 2 === 1).limit(20)
      .select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("neardup_recover")
    val idx = new java.io.File(root.toFile, "idx")
    try {
      NearDup.ensureNearDupIndex(base, col("doc_id"), col("text"),
        n = 5, k = 8, path = idx.getPath)
      NearDup.appendToNearDupIndex(appended, col("doc_id"), col("text"),
        n = 5, k = 8, path = idx.getPath)
      // simulate the rewriteInPlace crash window, then re-ensure with
      // ONLY the base corpus — a rebuild would silently forget the
      // appended odd docs; recovery must not
      java.nio.file.Files.move(idx.toPath,
        new java.io.File(root.toFile, "idx.old-777").toPath)
      NearDup.ensureNearDupIndex(base, col("doc_id"), col("text"),
        n = 5, k = 8, path = idx.getPath)
      assert(new java.io.File(idx, "_OK").exists())
      val incoming = appended.select((col("doc_id") + 500000).as("doc_id"),
        col("text").substr(lit(1), length(col("text")) - 5).as("text"))
      val survivors = NearDup.incrementalSurvivorsIndexed(spark,
          idx.getPath, incoming, col("doc_id"), col("text"),
          n = 5, k = 8, threshold = 0.5)
        .as[Long].collect()
      assert(survivors.isEmpty,
        s"near-dups of APPENDED docs survived => index was rebuilt, " +
          s"appends lost: ${survivors.toSeq.take(5)}")
    } finally {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("minhashRecallAudit: identical docs are always caught; disjoint docs never pair") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val other = (1 to 40).map(i => s"delta$i epsilon$i zeta$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base),   // identical → jacc 1, identical signature
      (3L, other)               // shares no shingle with 1/2
    ).toDF("doc_id", "text")
    val out = NearDup.minhashRecallAudit(docs, col("doc_id"), col("text"),
        n = 5, threshold = 0.5)
      .as[(Int, Int, Int, Long, Long, Long, Double, Double)].collect()
      .sortBy(r => (r._1, r._2))
    assert(out.map(r => (r._1, r._2, r._3)).toSeq ===
      Seq((8, 2, 4), (16, 2, 8), (16, 4, 4)))
    out.foreach { case (k, r, _, nTrue, nCand, nHit, recall, precision) =>
      // the one true pair (1,2) has identical shingle sets → identical
      // minhash signature → shares every band at EVERY (k, r) dial
      assert(nTrue === 1L, s"($k,$r)")
      assert(nHit === 1L, s"($k,$r)")
      assert(recall === 1.0, s"($k,$r)")
      // no shingle shared with doc 3 ⇒ its band values collide with the
      // dup pair's only by md5 accident — pinned: no false candidates
      assert(nCand === 1L, s"($k,$r)")
      assert(precision === 1.0, s"($k,$r)")
    }
  }
}
