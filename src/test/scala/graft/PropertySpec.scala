package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Text
import graft.operators.{Dedup, Fill, Skew}

/** Property-style invariants over seeded random data (SURVEY.md §5.2 #3):
  * dedup idempotence, anti-join-load idempotence, fill completeness,
  * clean-text output alphabet, salted-agg equivalence.
  */
class PropertySpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  private def randomRows(n: Int) = (1 to n).map { i =>
    (rnd.nextInt(20).toLong, i.toLong,
      if (rnd.nextInt(4) == 0) None else Some(rnd.nextDouble() * 100))
  }

  test("property: keepFirst is idempotent and keeps one row per key") {
    val df = randomRows(500).toDF("k", "ord", "v")
    val once = Dedup.keepFirst(df, Seq("k"), Seq(col("ord")))
    val twice = Dedup.keepFirst(once, Seq("k"), Seq(col("ord")))
    assert(once.count() === df.select("k").distinct().count())
    assert(once.orderBy("k", "ord").collect().toSeq ===
      twice.orderBy("k", "ord").collect().toSeq)
  }

  test("property: loading the same batch twice adds zero rows") {
    val batch = randomRows(300).toDF("k", "ord", "v")
      .withColumn("id", concat(col("k"), lit(":"), col("ord")))
    val loaded = Dedup.idempotentAppend(batch, batch, Seq("id"))
    assert(loaded.count() === batch.count())
  }

  test("property: after ffill+bfill, a row is null iff its whole group is null") {
    // `ord` unique, and `ord` tied: many small groups over two order
    // values, so most rows have a tied peer and many groups' only value
    // sits in a tie group
    val r = new scala.util.Random(7)
    val tied = (1 to 800).map(_ => (r.nextInt(200).toLong, r.nextInt(2).toLong,
      if (r.nextInt(4) == 0) Some(r.nextDouble()) else None))
    for (rows <- Seq(randomRows(800), tied); o <- Seq(col("ord"), col("ord").desc)) {
      val df = rows.toDF("k", "ord", "v")
      val filled = df.withColumn("f",
        Fill.ffillBfill(Seq(col("k")), Seq(o))(col("v")))
      val groupsAllNull = df.groupBy("k")
        .agg((count(col("v")) === 0).as("all_null"))
      val bad = filled.join(groupsAllNull, "k")
        .filter(col("f").isNull =!= col("all_null")).count()
      assert(bad === 0, s"order $o")
    }
  }

  test("property: cleanTextForNlp output alphabet is [\\w\\s.!?] only") {
    val texts = (1 to 200).map(_ => rnd.alphanumeric.take(30).mkString("", " ", "") +
      "<tag>#$%^&* http://x.co [+12 chars]")
    val out = texts.toDF("t").select(Text.cleanTextForNlp(col("t")).as("c"))
      .filter(col("c").rlike("[^\\w\\s.!?]")).count()
    assert(out === 0)
  }

  test("property: saltedAgg equals plain groupBy aggregation") {
    val df = randomRows(1000).toDF("k", "ord", "v").na.fill(0.0, Seq("v"))
    val plain = df.groupBy("k").agg(sum(col("v").cast("decimal(30,10)")).as("s"),
        count(lit(1)).as("n"))
      .orderBy("k").collect()
    val salted = Skew.saltedAgg(df, Seq(col("k")), col("ord"), nSalts = 8,
        sums = Map("s" -> col("v").cast("decimal(30,10)")))
      .select("k", "s", "n").orderBy("k").collect()
    assert(plain.map(r => (r.getLong(0), r.getDecimal(1), r.getLong(2))).toSeq ===
      salted.map(r => (r.getLong(0), r.getDecimal(1), r.getLong(2))).toSeq)
  }

  test("property: simhashPairs finds EVERY random pair within maxHam (pigeonhole recall)") {
    // 60 random 32-bit fingerprints + 40 planted neighbors at hamming
    // 1-3 of a random base: banding may not prune (that's recall-free
    // pruning's job on real data), but it must NEVER lose a pair within
    // maxHam — the brute-force ham≤3 pair set must be exactly reproduced
    val sigs = (1L to 60L).map(k =>
      k -> (0 until 32).map(_ => rnd.nextInt(2)).mkString) ++
      (61L to 100L).map { k =>
        val base = (0 until 32).map(_ => rnd.nextInt(2)).mkString
        val nFlips = 1 + rnd.nextInt(3)
        val flipped = (1 to nFlips).foldLeft(base) { (s, _) =>
          val i = rnd.nextInt(32)
          s.updated(i, if (s(i) == '0') '1' else '0')
        }
        k -> flipped
      }
    // include each planted neighbor's base as another doc so true close
    // pairs exist; ids 101+
    val all = sigs ++ sigs.drop(60).zipWithIndex.map { case ((_, s), i) =>
      (101L + i) -> s.updated(0, if (s(0) == '0') '1' else '0')
    }
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    val expect = (for {
      (ka, sa) <- all; (kb, sb) <- all
      if ka < kb && ham(sa, sb) <= 3
    } yield (ka, kb)).toSet
    val got = graft.operators.NearDup.simhashPairs(
        all.toDF("key", "simhash"), nBits = 32, nBands = 4, maxHam = 3)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(got === expect)
    assert(expect.nonEmpty)
  }

  test("property: BucketedTable tracks an in-memory model over random commit histories") {
    import graft.streaming.BucketedTable
    val r = new scala.util.Random(11)
    val snapRows = (1L to 30L).map(k => k -> (k * 1.0)).toMap
    val snap = snapRows.toSeq.toDF("k", "v")
    val rootDir = java.nio.file.Files.createTempDirectory("bucketed_model")
    val root = rootDir.toString
    try {
      var model = snapRows
      // model state AFTER each committed version, keyed by version id
      val history = scala.collection.mutable.Map.empty[Long, Map[Long, Double]]
      (0 until 10).foreach { step =>
        // random batch: upserts (possibly new keys) and deletes
        val ups = (0 until (1 + r.nextInt(5)))
          .map(_ => (r.nextInt(40) + 1).toLong -> (step * 1000.0 + r.nextInt(100)))
          .toMap
        val dels = (0 until r.nextInt(3))
          .map(_ => (r.nextInt(40) + 1).toLong)
          .filterNot(ups.contains).toSet
        // randomly simulate a commit that crashed between parquet and
        // manifest (round-12): an unmanifested orphan at the next id —
        // invisible, not counted by nextVersionId, overwritten by the
        // retry (this step's real commit)
        if (r.nextInt(3) == 0) {
          val orphan = new java.io.File(root,
            s"v${BucketedTable.nextVersionId(root)}")
          orphan.mkdirs()
          java.nio.file.Files.write(
            new java.io.File(orphan, "junk").toPath, Array[Byte](1, 2, 3))
        }
        val affected = (ups.keySet ++ dels).toSeq.toDF("k")
        val affIds = BucketedTable.bucketIds(affected, "k")
        val vid = BucketedTable.nextVersionId(root)
        val tableAff = BucketedTable.currentBuckets(spark, root, snap, "k", affIds)
        BucketedTable.commitIds(root, vid,
          tableAff.join(affected, Seq("k"), "left_anti")
            .unionByName(ups.toSeq.toDF("k", "v")),
          affIds, "k",
          // trigger a couple of real compactions inside the history
          compactThreshold = 6,
          // every commit carries a retry marker; folds must carry the
          // newest forward (asserted after the loop)
          sidecars = Seq("_batch" -> step.toString.getBytes("UTF-8")))
        model = (model -- dels) -- ups.keySet ++ ups
        history(vid) = model
        // invariant after EVERY commit: assembled table == model
        val cur = BucketedTable.current(spark, root, snap, "k")
          .as[(Long, Double)].collect().toMap
        assert(cur === model, s"step $step: table diverged from model")
      }
      // time-travel: every version at or past the compaction horizon
      // must reproduce its historical model state exactly
      val oldest = {
        val d = new java.io.File(root).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("v"))
          .map(_.getName.drop(1).toLong).min
        d
      }
      history.toSeq.sortBy(_._1).foreach { case (vid, m) =>
        if (vid >= oldest) {
          val got = BucketedTable.currentAsOf(spark, root, snap, "k", vid)
            .as[(Long, Double)].collect().toMap
          assert(got === m, s"asOf($vid) diverged from the model history")
        }
      }
      // the retention horizon FAILS LOUDLY below the newest fold (the
      // history above guarantees ≥1 compaction ran), and the newest
      // retry marker survived every fold
      val retired = history.keys.filter(_ < oldest)
      assert(retired.nonEmpty, "fixture never compacted — raise steps")
      retired.foreach { vid =>
        intercept[IllegalStateException] {
          BucketedTable.currentAsOf(spark, root, snap, "k", vid).count()
        }
      }
      assert(graft.streaming.Streaming.newestBatchMarker(root) === Some(9L),
        "folds lost the newest _batch retry marker")
    } finally {
      val s = java.nio.file.Files.walk(rootDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("property: int8 quantization reconstructs within scale/2 per element") {
    val rows = (1L to 100L).map(i =>
      (i, Array.fill(16)((rnd.nextDouble() * 4 - 2).toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val bad = graft.operators.Similarity.quantizeInt8(df, "vec_id", "embedding")
      .join(df, Seq("vec_id"))
      .select(col("vec_id"), col("scale"),
        expr("aggregate(zip_with(q, embedding, (qi, x) -> " +
          "abs(qi * scale - cast(x as double))), 0.0D, (acc, e) -> greatest(acc, e))")
          .as("max_err"))
      .filter(col("max_err") > col("scale") * 0.5 + lit(1e-12))
      .count()
    assert(bad === 0)
  }

  test("property: lineDedup keeps exactly one occurrence of every distinct chunk") {
    val docs = (1L to 50L).map(i =>
      (i, (1 to 40).map(_ => s"w${rnd.nextInt(6)}").mkString(" ")))
      .toDF("doc_id", "text")
    val kept = graft.operators.Corpus.lineDedup(docs, col("doc_id"), col("text"),
        lineWords = 4)
      .agg(sum("n_lines_kept")).as[Long].head()
    // distinct chunks computed independently via the same chunking
    val distinctChunks = docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("ws"))
      .withColumn("li", explode(sequence(lit(0),
        ceil(size(col("ws")).cast("double") / 4).cast("int") - 1)))
      .select(array_join(slice(col("ws"), col("li") * 4 + 1, lit(4)), " ").as("line"))
      .distinct().count()
    assert(kept === distinctChunks)
  }

  test("property: corpus cleaning is idempotent") {
    val d = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val corpus = d.select(col("doc_id"), col("text")).unionByName(
      d.select((col("doc_id") + 1000000).as("doc_id"),
        col("text").substr(lit(1), length(col("text")) - 10).as("text")))
    def clean(c: org.apache.spark.sql.DataFrame) =
      graft.operators.Corpus.cleanCorpus(c, col("doc_id"), col("text"),
        targetLang = "de", minScore = 0.25, n = 5, k = 8, jaccThreshold = 0.5)
    val once = clean(corpus).cache()
    val keptDocs = corpus.join(once.select(col("key").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val twice = clean(keptDocs)
    assert(once.select("key").as[Long].collect().toSet ===
      twice.select("key").as[Long].collect().toSet)
    assert(once.count() > 0)
  }

  test("property: saltedJoin equals the plain inner join") {
    // fact skewed 80% onto one key; dim has extra keys that match nothing
    val fact = (1 to 2000).map { i =>
      (if (rnd.nextInt(5) > 0) 7L else rnd.nextInt(30).toLong, i.toLong,
        rnd.nextDouble() * 10)
    }.toDF("k", "ord", "v")
    val dim = (0 to 40).map(k => (k.toLong, s"dim_$k")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k"))
      .select("k", "ord", "v", "name").orderBy("k", "ord").collect().toSeq
    val salted = Skew.saltedJoin(fact, dim, "k", col("ord"), nSalts = 8)
      .select("k", "ord", "v", "name").orderBy("k", "ord").collect().toSeq
    assert(salted === plain)
  }

  test("property: packSequences offsets tile each shard exactly") {
    val docs = (1L to 500L).map(i => (i, s"sh${i % 7}", 1L + (i * 13) % 90))
      .toDF("doc_id", "shard", "n_tokens")
    val packed = graft.operators.Curation.packSequences(
      docs, col("doc_id"), col("shard"), col("n_tokens"), capacity = 128)
    // per shard: offsets are the exclusive prefix sums of token counts —
    // max(offset + n_tokens) == sum(n_tokens), and no two docs overlap
    val bad = packed
      .withColumn("end", col("offset") + col("n_tokens"))
      .groupBy("shard")
      .agg(max(col("end")).as("maxEnd"),
        sum(col("n_tokens")).as("total"),
        count(lit(1)).as("n"),
        countDistinct(col("offset")).as("nOff"))
      .filter(col("maxEnd") =!= col("total") || col("n") =!= col("nOff"))
      .count()
    assert(bad === 0)
    // block ids never exceed the shard's token-total bound
    val overflow = packed
      .filter(col("block") > floor((col("offset") + col("n_tokens")) / 128))
      .count()
    assert(overflow === 0)
  }

  test("property: interpolateLinear anchors exact, interiors bounded, partition-invariant") {
    val rows = (1L to 600L).map { i =>
      val v = if (rnd.nextInt(3) == 0) None else Some(rnd.nextDouble() * 100)
      (s"g${i % 7}", i, v)
    }
    val df = rows.toDF("k", "t", "v")
    val out = df.withColumn("f",
        graft.operators.Fill.interpolateLinear(Seq(col("k")), Seq(col("t")))(col("v"), col("t")))
      .select("k", "t", "v", "f")
    // anchors: non-null inputs pass through untouched
    assert(out.filter(col("v").isNotNull && col("v") =!= col("f")).count() === 0)
    // interiors: every filled value lies within [min, max] of SOME pair of
    // group values (weaker global bound — exact neighbor check is the
    // unit test's job); no filled value escapes the group's value range
    val bounds = df.filter(col("v").isNotNull)
      .groupBy("k").agg(min("v").as("lo"), max("v").as("hi"))
    val escaped = out.join(bounds, "k")
      .filter(col("f") < col("lo") || col("f") > col("hi")).count()
    assert(escaped === 0)
    // a group with at least one non-null leaves no nulls behind
    val stillNull = out.join(bounds, "k").filter(col("f").isNull).count()
    assert(stillNull === 0)
    // repartitioning the input changes nothing
    val out2 = df.repartition(11).withColumn("f",
        graft.operators.Fill.interpolateLinear(Seq(col("k")), Seq(col("t")))(col("v"), col("t")))
      .select("k", "t", "v", "f")
    assert(out.exceptAll(out2).count() === 0 && out2.exceptAll(out).count() === 0)
  }

  test("property: dedupClusters equals driver-side union-find on random graphs") {
    // the star-contraction algorithm must agree with a textbook
    // union-find on arbitrary random topologies — chains, cliques,
    // forests, self-contained blobs — across several densities
    for (trial <- 1 to 5) {
      val n = 200 + trial * 100
      val nEdges = n / 2 + rnd.nextInt(2 * n)
      val edges = (1 to nEdges).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // driver-side union-find with path compression
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        // min key per component — the operator's cluster_id contract
        val expect = nodes.groupBy(find).flatMap { case (_, members) =>
          val m = members.min
          members.map(_ -> m)
        }.toMap
        val got = graft.operators.NearDup.dedupClusters(
            edges.toDF("key_a", "key_b"))
          .as[(Long, Long)].collect().toMap
        assert(got === expect, s"trial $trial: n=$n edges=${edges.size}")
      }
    }
  }

  test("property: incremental clustering (labels ∪ new pairs) equals cold clustering on random graphs") {
    // the q_dedup_clusters_incr theorem on arbitrary topologies: a
    // label set encodes exactly its batch's connectivity (cluster ids
    // are member keys), so clusters(labels(b1) ∪ b2) must equal
    // clusters(b1 ∪ b2) node-for-node — including nodes only in b1,
    // only in b2, and components merged ACROSS the batches
    for (trial <- 1 to 4) {
      val n = 150 + trial * 80
      val edges = (1 to n + rnd.nextInt(2 * n)).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val (b1, b2) = edges.partition(_ => rnd.nextBoolean())
        val cold = graft.operators.NearDup.dedupClusters(
            edges.toDF("key_a", "key_b"))
          .as[(Long, Long)].collect().toMap
        val warm =
          if (b1.isEmpty)
            graft.operators.NearDup.dedupClusters(b2.toDF("key_a", "key_b"))
              .as[(Long, Long)].collect().toMap
          else {
            val labels = graft.operators.NearDup.dedupClusters(
                b1.toDF("key_a", "key_b"))
              .as[(Long, Long)].collect()
            val labelEdges = labels.toSeq
            val union = (labelEdges ++ b2).toDF("key_a", "key_b")
            graft.operators.NearDup.dedupClusters(union)
              .as[(Long, Long)].collect().toMap
          }
        assert(warm === cold,
          s"trial $trial: warm clustering diverged (b1=${b1.size}, b2=${b2.size})")
      }
    }
  }

  test("property: decontaminate equals the brute-force shingle intersection") {
    val d = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val train = d.filter(col("doc_id") % 11 =!= 0)
    val eval_ = d.filter(col("doc_id") % 11 === 0)
    val fast = graft.operators.Curation.decontaminate(
        train, eval_, col("doc_id"), col("text"), n = 3)
      .as[(Long, Long)].collect().toMap
    // brute force: distinct per-doc shingles, plain inner join, no
    // broadcast/raw-probe structure — the semantics the operator claims
    val trainSh = graft.operators.NearDup.wordShingles(
      train, col("doc_id"), col("text"), 3)
    val evalSh = graft.operators.NearDup.wordShingles(
        eval_, col("doc_id"), col("text"), 3)
      .select("shingle").distinct()
    val brute = trainSh.join(evalSh, Seq("shingle"))
      .groupBy("key").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(fast === brute && fast.nonEmpty)
  }

  test("property: bucketed tables join without a shuffle exchange") {
    // a previous JVM's managed-table location survives the metastore;
    // clear both the catalog entry and the orphaned directory
    Seq("bucket_a", "bucket_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    val a = (1 to 1000).map(i => (i.toLong % 100, i.toLong)).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong % 100, i.toLong * 2)).toDF("k", "vb")
    graft.sinks.Sinks.writeBucketed(a, "bucket_a", "k", 4)
    graft.sinks.Sinks.writeBucketed(b, "bucket_b", "k", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bucket_a").join(spark.table("bucket_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free join, got:\n$plan")
      assert(joined.count() === 10000) // 100 keys x 10 x 10
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("property: JaroWinkler is symmetric, bounded, 1 iff equal (random strings)") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    import graft.functions.JaroWinkler.compute
    val alphabet = "abcde"
    def rndStr() = (0 until 1 + rnd.nextInt(10))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to 500).foreach { _ =>
      val (s1, s2) = (rndStr(), rndStr())
      val f = compute(u(s1), u(s2))
      val r = compute(u(s2), u(s1))
      assert(f === r, s"asymmetric on '$s1'/'$s2'")
      assert(f >= 0.0 && f <= 1.0, s"out of bounds on '$s1'/'$s2': $f")
      if (s1 == s2) assert(f === 1.0)
      else assert(f < 1.0, s"non-equal pair scored 1.0: '$s1'/'$s2'")
    }
  }

  test("property: asOfJoinDirectional backward equals asOfJoin on random data") {
    import graft.operators.Analytics
    val probe = (1 to 300).map { i =>
      (i.toLong, rnd.nextInt(10).toLong,
        java.sql.Timestamp.valueOf(
          f"2024-01-${1 + rnd.nextInt(28)}%02d ${rnd.nextInt(24)}%02d:00:00"))
    }.toDF("pid", "k", "t")
    val quote = (1 to 200).map { i =>
      (rnd.nextInt(10).toLong,
        java.sql.Timestamp.valueOf(
          f"2024-01-${1 + rnd.nextInt(28)}%02d ${rnd.nextInt(24)}%02d:00:00"),
        (1000 + i).toLong, rnd.nextDouble() * 100)
    }.toDF("k", "t", "qid", "px")
    val legacy = Analytics.asOfJoin(
        probe.withColumnRenamed("pid", "tb"),
        quote.withColumnRenamed("qid", "tb"), "k", "t", "tb", Seq("px"))
      .select(col("tb").as("pid"), col("px"))
    val directional = Analytics.asOfJoinDirectional(probe, quote,
        "k", "t", "qid", "px", "backward", None)
      .select("pid", "px")
    assert(legacy.orderBy("pid").collect().toSeq ===
      directional.orderBy("pid").collect().toSeq)
  }

  test("property: skyline2D is exactly the non-dominated set (random points)") {
    import graft.operators.Analytics
    val pts = (1 to 400).map(_ => (rnd.nextInt(50).toDouble, rnd.nextInt(50).toLong))
    val df = pts.toDF("x", "y")
    val sky = Analytics.skyline2D(df, col("x"), col("y"))
      .as[(Double, Long)].collect().toSet
    val distinct = pts.toSet
    def dominated(p: (Double, Long)) = distinct.exists(q =>
      q._1 <= p._1 && q._2 <= p._2 && (q._1 < p._1 || q._2 < p._2))
    // every skyline point is non-dominated; every non-skyline point is dominated
    assert(sky.forall(!dominated(_)), "skyline contains a dominated point")
    assert((distinct -- sky).forall(dominated), "a non-dominated point was dropped")
    // partitioning independence: same frontier from a different layout
    val sky2 = Analytics.skyline2D(df.repartition(13), col("x"), col("y"))
      .as[(Double, Long)].collect().toSet
    assert(sky2 === sky)
  }

  test("property: HLL union of per-group sketches equals the direct global sketch") {
    val df = (1 to 5000).map(i => (s"g${i % 7}", (i % 800).toLong)).toDF("g", "v")
    val perGroup = df.groupBy("g").agg(hll_sketch_agg(col("v"), lit(12)).as("sk"))
    val merged = perGroup
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
      .as[Long].head()
    val direct = df.agg(hll_sketch_estimate(hll_sketch_agg(col("v"), lit(12))).as("est"))
      .as[Long].head()
    assert(merged === direct, "sketch union must be lossless at equal lgK")
    val exact = df.select("v").distinct().count()
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"estimate $merged vs exact $exact exceeds 5%")
  }

  test("property: applyChangeLog is idempotent — re-applying the frontier is a no-op") {
    val snap = randomRows(300).toDF("k", "ord", "v")
      .groupBy("k").agg(max(col("ord")).as("ord"), avg(col("v")).as("v"))
    val ops = Seq("I", "U", "D")
    val changes = (1 to 200).map { i =>
      (rnd.nextInt(30).toLong,
        java.sql.Timestamp.valueOf(f"2024-01-${1 + rnd.nextInt(28)}%02d 00:00:00"),
        i.toLong, ops(rnd.nextInt(3)), rnd.nextInt(1000).toLong,
        rnd.nextDouble() * 100)
    }.toDF("k", "ts", "seq", "op", "ord", "v")
    val once = Dedup.applyChangeLog(snap, changes, "k", "ts", "seq", "op",
      Seq("ord", "v"))
    // surviving state re-expressed as an all-U log applies to itself
    // as a fixpoint: same keys, same values
    val asLog = once.withColumn("ts",
        lit("2030-01-01 00:00:00").cast("timestamp"))
      .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
    val twice = Dedup.applyChangeLog(once, asLog, "k", "ts", "seq", "op",
      Seq("ord", "v"))
    assert(once.orderBy("k").collect().toSeq ===
      twice.orderBy("k").collect().toSeq)
  }

  test("property: two-pass replace matches its symbol-level model; greedy only off same-pair runs") {
    // TextAnalysis.bpeTrain applies a merge as TWO passes of literal
    // " a b " -> " ab " replacement. That is the DOCUMENTED contract
    // (a fixpoint of the spaced pattern), and it is NOT equivalent to
    // greedy left-to-right merging in general: a run of >= 5 identical
    // merged symbols diverges (six b's: two-pass [bb,b,bb,b] vs greedy
    // [bb,bb,bb]) because each string match consumes the trailing
    // delimiter, blocking a match start at the next symbol. So the
    // property proven here is (1) the string replace equals an
    // INDEPENDENT symbol-level model of exactly those semantics on all
    // inputs, and (2) greedy equivalence on the inputs where it
    // genuinely holds — no same-symbol run >= 5 when a == b. The
    // engine/oracle parity is unaffected either way: both sides run
    // the identical two passes.
    def greedyMerge(syms: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    // one String.replace pass at symbol level: leftmost scan; a match
    // consumes symbol i+1's trailing space (the leading space of
    // symbol i+2), so no match can START at i+2 within the same pass
    def onePassModel(syms: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b)
          if (i + 2 < syms.length) out += syms(i + 2)
          i += 3
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    def twoPass(s: String, a: String, b: String): String = {
      val pat = s" $a $b "
      val rep = s" $a$b "
      s.replace(pat, rep).replace(pat, rep)
    }
    def maxRun(syms: List[String], a: String): Int = {
      var best = 0; var cur = 0
      syms.foreach { s =>
        cur = if (s == a) cur + 1 else 0
        best = math.max(best, cur)
      }
      best
    }
    val alphabet = Vector("a", "b", "ab", "aa")
    var checked = 0
    var greedyChecked = 0
    var divergenceSeen = 0
    for (_ <- 1 to 2000) {
      val syms = List.fill(1 + rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length)))
      val a = alphabet(rnd.nextInt(alphabet.length))
      val b = alphabet(rnd.nextInt(alphabet.length))
      val spaced = syms.mkString(" ", " ", " ")
      val got = twoPass(spaced, a, b).trim.split(" ").toList
      val model = onePassModel(onePassModel(syms, a, b), a, b)
      assert(got === model,
        s"two-pass replace diverged from its symbol model: syms=$syms pair=($a,$b)")
      checked += 1
      val want = greedyMerge(syms, a, b)
      if (a != b || maxRun(syms, a) < 5) {
        assert(got === want,
          s"two-pass replace diverged from greedy merge off runs: syms=$syms pair=($a,$b)")
        greedyChecked += 1
      } else if (got != want) divergenceSeen += 1
    }
    assert(checked === 2000)
    assert(greedyChecked > 1500, s"greedy-equivalence regime under-sampled: $greedyChecked")
    // the known counterexample, pinned: six b's, pair (b, b)
    val six = List.fill(6)("b")
    val gotSix = twoPass(six.mkString(" ", " ", " "), "b", "b")
      .trim.split(" ").toList
    assert(gotSix === List("bb", "b", "bb", "b"))
    assert(greedyMerge(six, "b", "b") === List("bb", "bb", "bb"))
    assert(gotSix === onePassModel(onePassModel(six, "b", "b"), "b", "b"))
  }

  test("property: boilerplateStrip equals its reference model on random corpora") {
    // small shared line pools per group force both frequent and rare
    // lines; the model recomputes the rule directly on the rows
    val pool = (0 until 8).map(i => s"shared line $i")
    val corpus = (1 to 150).map { i =>
      val grp = s"g${rnd.nextInt(4)}"
      val nLines = 2 + rnd.nextInt(5)
      val lines = (0 until nLines).map { _ =>
        if (rnd.nextInt(3) == 0) pool(rnd.nextInt(pool.length))
        else s"unique $i ${rnd.nextInt(1000)}"
      }
      (i.toLong, grp, lines.mkString("\n"))
    }
    val got = graft.operators.Corpus.boilerplateStrip(
        corpus.toDF("doc_id", "site", "text"),
        col("doc_id"), col("site"), col("text"), minPct = 30)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // reference model
    val byDoc = corpus.map { case (id, g, t) => id -> ((g, t.split("\n", -1).toSeq)) }.toMap
    val nDocs = corpus.groupBy(_._2).view.mapValues(_.size).toMap
    val lineDocs = corpus.flatMap { case (id, g, t) =>
      t.split("\n", -1).distinct.map(l => (g, l) -> id)
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val want = byDoc.map { case (id, (g, lines)) =>
      val (kept, removed) = lines.partition { l =>
        val nd = lineDocs((g, l))
        !(nd >= 2 && nd * 100 >= nDocs(g) * 30)
      }
      id -> ((kept.size.toLong, removed.size.toLong, kept.mkString("\n")))
    }
    assert(got === want)
  }

  test("property: dupNgramCoverage equals its reference model on random corpora") {
    val vocab = (0 until 10).map(i => s"w$i")
    val corpus = (1 to 120).map { i =>
      val words = List.fill(1 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.length)))
      (i.toLong, words.mkString(" "))
    }
    val lw = 3
    val got = graft.operators.Corpus.dupNgramCoverage(
        corpus.toDF("doc_id", "text"), col("doc_id"), col("text"), lineWords = lw)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // reference: chunk → set of docs containing it; dup iff ≥ 2 docs
    def chunks(t: String): Seq[String] =
      t.split("\\s+").filter(_.nonEmpty).grouped(lw).map(_.mkString(" ")).toSeq match {
        case Nil => Seq("")
        case cs  => cs
      }
    val docsPerChunk = corpus.flatMap { case (id, t) => chunks(t).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val want = corpus.map { case (id, t) =>
      val cs = chunks(t)
      val dup = cs.count(c => docsPerChunk(c) >= 2).toLong
      id -> ((cs.size.toLong, dup,
        BigDecimal(dup.toDouble / cs.size)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toMap
    assert(got === want)
  }
}
