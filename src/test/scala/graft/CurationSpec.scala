package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Curation

class CurationSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  test("decontaminate flags only train docs sharing an eval n-gram") {
    val train = Seq(
      (1L, "alpha beta gamma delta"),    // shares "alpha beta gamma"
      (2L, "delta epsilon zeta eta"),    // no shared 3-gram
      (3L, "x alpha beta gamma y")       // shares it mid-doc
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "alpha beta gamma omega")).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, eval_,
        col("doc_id"), col("text"), n = 3)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 3L -> 1L))
  }

  test("decontaminate over-cap eval set falls back to shuffle join, same result") {
    val train = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta epsilon zeta eta"),
      (3L, "x alpha beta gamma y")
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "alpha beta gamma omega")).toDF("doc_id", "text")
    // cap of 0 forces the shuffle-join path; answers must be identical
    val out = Curation.decontaminate(train, eval_,
        col("doc_id"), col("text"), n = 3, maxBroadcastShingles = 0L)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 3L -> 1L))
  }

  test("mixtureSample keep-all threshold keeps everything; rate is n_out/n_in") {
    val df = (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "src")
    val thr = when(col("src") === "a", "zz").otherwise("00")
    val rows = Curation.mixtureSample(df, col("id"), col("src"), thr)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val a = rows.find(_._1 == "a").get
    val b = rows.find(_._1 == "b").get
    assert(a._2 === 100L && a._3 === 100L && a._4 === 1.0) // "zz" > any hex
    assert(b._2 === 100L && b._3 === 0L && b._4 === 0.0)   // "00" < any hex
  }

  test("mixtureSample is a pure function of the key (repartition-invariant)") {
    val df = (1L to 500L).map(i => (i, "s")).toDF("id", "src")
    val r1 = Curation.mixtureSample(df, col("id"), col("src"), lit("80"))
      .select("n_out").as[Long].head()
    val r2 = Curation.mixtureSample(df.repartition(7), col("id"), col("src"), lit("80"))
      .select("n_out").as[Long].head()
    assert(r1 === r2 && r1 > 0 && r1 < 500)
  }

  test("sentimentScore sums weights and zero-fills docs with no hits") {
    val docs = Seq(
      (1L, "fast fast slow"),  // 2+2-2 = 2, 3 matches
      (2L, "nothing matches here"),
      (3L, "dup")              // -3
    ).toDF("doc_id", "text")
    val lex = Seq("fast" -> 2, "slow" -> -2, "dup" -> -3)
    val out = Curation.sentimentScore(docs, col("doc_id"), col("text"), lex)
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 2L, 3L), (2L, 0L, 0L), (3L, -3L, 1L)))
  }

  test("trainingLabels emits next-day comparison and null on the last day") {
    val ts = (d: Int, h: Int) =>
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    val ev = Seq(
      (1L, ts(1, 1), 10.0), (1L, ts(1, 2), 20.0), // day1 mean 15
      (1L, ts(2, 1), 30.0),                       // day2 mean 30 -> label day1 = 1
      (1L, ts(3, 1), 5.0)                         // day3 mean 5  -> label day2 = 0, day3 null
    ).toDF("user_id", "ts", "value")
    val out = Curation.trainingLabels(ev, col("user_id"), col("ts"), col("value"))
      .orderBy("day")
      .select("v_mean", "label")
      .collect().map(r => (r.getDouble(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
    assert(out.toSeq === Seq((15.0, Some(1)), (30.0, Some(0)), (5.0, None)))
  }

  test("zscoreOutliers flags exactly the planted extreme value") {
    val base = (1L to 40L).map(i => (i, "g", 10.0 + (i % 5))) // values 10..14
    val df = (base :+ ((99L, "g", 1000.0))).toDF("id", "grp", "v")
    val out = Curation.zscoreOutliers(df, col("id"), col("grp"), col("v"), 2.5)
      .select("id").as[Long].collect().toSet
    assert(out === Set(99L))
  }

  test("packSequences assigns contiguous offsets and boundary-straddling blocks") {
    val docs = Seq(
      (1L, "s", 300L), (2L, "s", 300L), (3L, "s", 500L), (4L, "t", 100L)
    ).toDF("doc_id", "shard", "n_tokens")
    val out = Curation.packSequences(docs, col("doc_id"), col("shard"),
        col("n_tokens"), capacity = 512)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    // doc1: offset 0, block 0, fits          (0..299)
    // doc2: offset 300, straddles 0→1        (300..599)
    // doc3: offset 600, block 1, fits        (600..1099) -> 1..2 spans 2
    // doc4: own shard, offset 0, block 0
    assert(out.toSeq === Seq(
      (1L, 0L, 0L, 1L), (2L, 300L, 0L, 2L), (3L, 600L, 1L, 2L),
      (4L, 0L, 0L, 1L)))
  }

  test("packSequences: zero-token docs span 0 blocks, offsets unaffected") {
    val docs = Seq(
      (1L, "s", 512L),  // exactly fills block 0
      (2L, "s", 0L),    // offset 512, block boundary → 0 blocks
      (3L, "s", 100L),  // offset 512, block 1
      (4L, "s", 0L)     // offset 612, mid-block → still 0 blocks
    ).toDF("doc_id", "shard", "n_tokens")
    val out = Curation.packSequences(docs, col("doc_id"), col("shard"),
        col("n_tokens"), capacity = 512)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(5)))
      .sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, 0L, 1L), (2L, 512L, 0L), (3L, 512L, 1L), (4L, 612L, 0L)))
  }

  test("shuffleIntoShards: deterministic permutation, contiguous in-shard positions") {
    val docs = (1L to 500L).map(i => Tuple1(i)).toDF("doc_id")
    val a = Curation.shuffleIntoShards(docs, col("doc_id"), "s1", 8)
    // positions tile 1..|shard| within every shard
    val badTiling = a.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"),
        countDistinct("pos").as("np"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1 || col("np") =!= col("n"))
      .count()
    assert(badTiling === 0)
    assert(a.count() === 500)
    // repartitioning the input does not change the permutation
    val b = Curation.shuffleIntoShards(docs.repartition(13), col("doc_id"), "s1", 8)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    // a different seed produces a different permutation
    val c = Curation.shuffleIntoShards(docs, col("doc_id"), "s2", 8)
    assert(a.exceptAll(c).count() > 0)
  }

  test("winsorize clips to the percentile band and passes interior values through") {
    val df = (1L to 100L).map(i => (i, "g", i.toDouble)).toDF("id", "grp", "v")
    val out = Curation.winsorize(df, col("id"), col("grp"), col("v"), 0.05, 0.95)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    // exact interpolated percentiles of 1..100: p05 = 5.95, p95 = 95.05
    assert(out.forall { case (_, _, lo, hi, _) => lo === 5.95 && hi === 95.05 })
    assert(out.forall { case (_, v, lo, hi, w) =>
      w === math.min(math.max(v, lo), hi) })
    val clippedLow = out.filter(_._2 < 5.95)
    assert(clippedLow.nonEmpty && clippedLow.forall(_._5 === 5.95))
  }

  test("weightedSample matches an independent A-ES computation and is repartition-stable") {
    val docs = (1L to 200L).map(i => (i, if (i % 2 == 0) "even" else "odd",
      (i % 17) * 10 + 1)).toDF("doc_id", "grp", "w")
    val got = graft.operators.Corpus.weightedSample(
        docs, col("doc_id"), col("grp"), col("w"), k = 5)
      .orderBy("group", "rn")
      .select("group", "key").as[(String, Long)].collect()

    // independent expectation: same md5-hash uniform + ln(u)/w ranking
    // computed driver-side with java.security.MessageDigest
    def score(key: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(key.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / 4294967296.0
      math.log(u) / w.toDouble
    }
    val expected = (1L to 200L).map(i => (i, if (i % 2 == 0) "even" else "odd",
        (i % 17) * 10 + 1))
      .groupBy(_._2).toSeq.flatMap { case (g, rows) =>
        rows.sortBy { case (k, _, w) => (-score(k, w), k) }.take(5)
          .map(r => (g, r._1))
      }.toSeq.sorted
    assert(got.toSeq.sorted === expected)

    // pure function of the key: physical layout cannot change the sample
    val again = graft.operators.Corpus.weightedSample(
        docs.repartition(13), col("doc_id"), col("grp"), col("w"), k = 5)
      .select("group", "key").as[(String, Long)].collect()
    assert(again.toSeq.sorted === expected)
  }

  test("trainValTestSplit is a pure function of the key with sane proportions") {
    val keys = (1L to 2000L).toDF("id")
    val out = Curation.trainValTestSplit(keys, col("id"), 10, 10)
      .as[(Long, String)].collect()
    val bySplit = out.groupBy(_._2).view.mapValues(_.length).toMap
    // hash-uniform: 80/10/10 ± a generous tolerance at n=2000
    assert(bySplit("train") > 1500 && bySplit("train") < 1700)
    assert(bySplit("val") > 120 && bySplit("val") < 280)
    assert(bySplit("test") > 120 && bySplit("test") < 280)
    // layout-independence: repartitioned input assigns identically
    val again = Curation.trainValTestSplit(keys.repartition(17), col("id"), 10, 10)
      .as[(Long, String)].collect()
    assert(again.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
    // growing the corpus never migrates an existing key
    val grown = Curation.trainValTestSplit((1L to 4000L).toDF("id"), col("id"), 10, 10)
      .as[(Long, String)].collect().toMap
    assert(out.forall { case (k, s) => grown(k) == s })
  }

  test("splitByGroup: near-dup pairs NEVER cross splits; group=key degenerates to the plain split") {
    // groups of 3 correlated rows each (a doc + two near-copies): the
    // group-keyed split must put all members together, while the
    // row-keyed split provably splits some groups (the leakage hole)
    val rows = (1L to 300L).map(k => (k, k % 100)).toDF("id", "cl")
    val byGroup = Curation.splitByGroup(rows, col("id"), col("cl"), 10, 10)
      .as[(Long, Long, String)].collect()
    val splitsPerGroup = byGroup.groupBy(_._2).view
      .mapValues(_.map(_._3).distinct.length).toMap
    assert(splitsPerGroup.values.forall(_ == 1),
      s"groups crossing splits: ${splitsPerGroup.count(_._2 > 1)}")
    // the row-keyed split DOES break groups apart — the hole exists
    val byRow = Curation.trainValTestSplit(rows, col("id"), 10, 10)
      .as[(Long, String)].collect().toMap
    val rowBroken = (1L to 300L).groupBy(_ % 100)
      .count { case (_, ks) => ks.map(byRow).distinct.length > 1 }
    assert(rowBroken > 0,
      "fixture too small to demonstrate the row-keyed leakage hole")
    // degenerate group=key: identical assignment to the plain split
    val degen = Curation.splitByGroup(rows, col("id"), col("id"), 10, 10)
      .as[(Long, Long, String)].collect().map(r => (r._1, r._3)).toMap
    assert((1L to 300L).forall(k => degen(k) == byRow(k)))
    // all three splits are populated at 100 groups
    assert(byGroup.map(_._3).distinct.sorted.toSeq === Seq("test", "train", "val"))
  }

  test("kAnonymity flags exactly the groups below k") {
    val df = Seq(
      ("a", "x"), ("a", "x"), ("a", "x"),  // n=3, safe at k=3
      ("b", "x"), ("b", "x"),              // n=2, at risk
      ("c", "y")                           // n=1, at risk
    ).toDF("qa", "qb")
    val out = Curation.kAnonymity(df, Seq(col("qa"), col("qb")), k = 3L)
      .as[(String, String, Long, Boolean)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq === Seq(
      ("a", "x", 3L, false), ("b", "x", 2L, true), ("c", "y", 1L, true)))
  }

  test("chunkDocuments covers the text with overlapping windows; empty and null docs keep one chunk") {
    val df = Seq((1L, Some("abcdefghij")), (2L, Some("")), (3L, None))
      .toDF("doc_id", "text")
    // window 4, stride 3 over 10 chars → starts 0,3,6,9
    val out = graft.operators.Corpus.chunkDocuments(
        df, col("doc_id"), col("text"), window = 4, stride = 3)
      .select("key", "chunk_id", "start", "chunk", "n_chars")
      .as[(Long, Long, Long, String, Long)].collect()
      .sortBy(r => (r._1, r._2))
    assert(out.toSeq === Seq(
      (1L, 0L, 0L, "abcd", 4L), (1L, 1L, 3L, "defg", 4L),
      (1L, 2L, 6L, "ghij", 4L), (1L, 3L, 9L, "j", 1L),
      (2L, 0L, 0L, "", 0L),
      (3L, 0L, 0L, "", 0L)))  // null text must NOT drop the doc id
    // overlap invariant: consecutive chunks share window − stride chars
    assert(out(0)._4.drop(3) === out(1)._4.take(1))
  }

  test("contaminationReport: verbatim eval doc scores 1.0, novel doc 0.0") {
    import graft.operators.Curation
    import org.apache.spark.sql.functions._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "spark plans compile to whole stage generated java code"))
      .toDF("doc_id", "text")
    val ev = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // verbatim
      (11L, "completely novel words sharing no five gram with train at all"),
      // half-contaminated: first 5-gram window from train doc 2 + novel tail
      (12L, "spark plans compile to whole new ideas entirely"))
      .toDF("doc_id", "text")
    val got = Curation.contaminationReport(train, ev,
        col("doc_id"), col("text"), n = 5)
      .orderBy("key").as[(Long, Long, Long, Double)].collect()
    assert(got(0) === ((10L, 6L, 6L, 1.0)))
    assert(got(1)._4 === 0.0)
    // doc 12: 4 shingles, exactly one ("spark plans compile to whole")
    // present in train
    assert(got(2) === ((12L, 4L, 1L, 0.25)))
  }

  test("temperatureSample flattens the source distribution (√n scaling)") {
    import graft.operators.Curation
    import org.apache.spark.sql.functions._
    // sources sized 400 / 100 / 25 → √n weights 20 : 10 : 5
    val df = (1 to 525).map { i =>
      val g = if (i <= 400) "head" else if (i <= 500) "mid" else "tail"
      (i.toLong, g)
    }.toDF("doc_id", "source")
    val got = Curation.temperatureSample(df, col("doc_id"), col("source"),
        budget = 100L)
      .as[(String, Long, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("head")._2 === 400L && got("mid")._2 === 100L &&
      got("tail")._2 === 25L)
    // expected exact rates: B·√n/Σ√n/n with Σ√n = 35
    assert(math.abs(got("head")._3 - 100.0 * 20 / 35 / 400) < 1e-6)
    assert(math.abs(got("tail")._3 - 100.0 * 5 / 35 / 25) < 1e-6)
    // flattening: per-DOC keep rate rises as the source shrinks
    assert(got("head")._3 < got("mid")._3)
    assert(got("mid")._3 < got("tail")._3)
    // hash-rule output lands near rate·n (binomial, wide tolerance)
    val expHead = got("head")._3 * 400
    assert(math.abs(got("head")._4 - expHead) < 25,
      s"head kept ${got("head")._4}, expected ≈ $expHead")
    // determinism: identical second run
    val again = Curation.temperatureSample(df, col("doc_id"), col("source"),
        budget = 100L)
      .as[(String, Long, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(again === got)
  }
}
