package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, Curation, TextAnalysis}

/** BM25 retrieval, DSIR importance weighting, span dedup, tokenization. */
class RetrievalSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  test("bm25 ranks by term frequency and length-normalizes") {
    val docs = Seq(
      (1L, "apple apple apple pear pear pear pear pear pear pear"),
      (2L, "apple banana cherry"), // short doc, single hit
      (3L, "apple apple banana"),
      (4L, "pear pear pear pear") // no query term
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"),
        Seq("apple", "banana"), k = 10)
      .as[(Long, Double, Long)].collect()
    // doc 4 has no query term — absent entirely
    assert(out.map(_._1).toSet === Set(1L, 2L, 3L))
    // doc 3: 2×apple + 1×banana beats doc 2: 1×apple + 1×banana
    val byKey = out.map(t => t._1 -> t._2).toMap
    assert(byKey(3L) > byKey(2L))
    // doc 2 (matching 2 rarer-weighted terms, short) beats long doc 1
    // with only apple hits
    assert(out.map(_._1).head === 3L)
    assert(out.forall(_._2 > 0.0))
    // n_terms counts DISTINCT matched terms
    val nTerms = out.map(t => t._1 -> t._3).toMap
    assert(nTerms === Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("bm25 respects k and orders by rounded score desc then key") {
    val docs = (1 to 20).map(i => (i.toLong, "apple")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"),
        Seq("apple"), k = 5).as[(Long, Double, Long)].collect()
    // all docs identical → identical scores → key ascending tiebreak
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    assert(out.map(_._2).distinct.length === 1)
  }

  test("gopherRules: per-rule booleans and overall verdict") {
    val good = (1 to 30).map(i => s"the word$i of and").mkString(" ") // 150 words, stopwords present
    val docs = Seq(
      (1L, good),
      (2L, "too short to pass the word count"),             // n_words < 20
      (3L, (1 to 30).map(_ => "### ... ###").mkString(" ")),// symbols, no alpha, no stops
      (4L, (1 to 30).map(i => s"- bullet the of item$i").mkString("\n")) // all-bullet lines
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, col("doc_id"), col("text"),
        minWords = 20, maxWords = 100000)
      .orderBy("key").collect()
    assert(out.map(_.getBoolean(7)).toSeq === Seq(true, false, false, false))
    val d3 = out(2)
    assert(d3.getDouble(3) >= 0.1 || d3.getDouble(5) < 0.8) // symbol_ratio / alpha fail
    val d4 = out(3)
    assert(d4.getDouble(4) >= 0.9) // bullet_ratio
    // mean_word_len sanity on the good doc: between 3 and 10
    assert(out(0).getDouble(2) >= 3.0 && out(0).getDouble(2) <= 10.0)
  }

  test("tfidfCosinePairs: identical docs score 1, df cap drops ubiquitous terms") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),     // identical to 1 → cosine 1.0
      (3L, "epsilon zeta eta theta"),     // disjoint → no pair with 1/2
      (4L, "alpha epsilon common common")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfCosinePairs(docs, col("doc_id"), col("text"),
        maxDf = 3, k = 10)
      .as[(Long, Long, Double)].collect()
    assert(out.head === ((1L, 2L, 1.0)))
    assert(!out.map(t => (t._1, t._2)).contains((1L, 3L)))
    // a term in EVERY doc would be dropped by maxDf = 3 of 4 docs: add it
    val ubiq = docs.withColumn("text", concat(col("text"), lit(" ubiq")))
    val out2 = TextAnalysis.tfidfCosinePairs(ubiq, col("doc_id"), col("text"),
        maxDf = 3, k = 10).as[(Long, Long, Double)].collect()
    // 'ubiq' (df=4) is excluded, so pairs/scores equal the original run
    assert(out2.toSeq === out.toSeq)
  }

  test("dsir weight is zero when target equals raw") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "beta gamma delta epsilon")
    ).toDF("doc_id", "text")
    val out = Curation.dsirWeights(docs, docs, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // p_target ≡ p_raw ⇒ every bucket log-ratio is exactly 0
    assert(out.map(_._3).forall(_ === 0.0))
    assert(out.map(t => t._1 -> t._2).toMap === Map(1L -> 2L, 2L -> 3L))
  }

  test("dsir upweights docs resembling the target domain") {
    val raw = Seq(
      (1L, "alpha beta alpha beta alpha beta"), // target-like
      (2L, "zeta eta zeta eta zeta eta"), // off-domain
      (3L, "alpha beta zeta eta") // mixed
    ).toDF("doc_id", "text")
    // target big enough that its real mass dominates the add-α smoothing
    // (a 4-bigram target would be ~flat after smoothing and every weight
    // would go negative — correct DSIR behavior, but not this test's point)
    val target = Seq((10L, Seq.fill(100)("alpha beta").mkString(" ")))
      .toDF("doc_id", "text")
    val w = Curation.dsirWeights(raw, target, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._3).toMap
    assert(w(1L) > w(3L) && w(3L) > w(2L))
    assert(w(1L) > 0.0 && w(2L) < 0.0)
  }

  test("spanDedupPairs finds docs sharing an exact n-word span, caps boilerplate") {
    val span = (1 to 5).map(i => s"s$i").mkString(" ")
    val boiler = (1 to 5).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$span alpha beta gamma"),
      (2L, s"delta $span epsilon"), // shares the span with 1
      (3L, "zeta eta theta iota kappa lambda"), // shares nothing
      (4L, s"$boiler one"), (5L, s"$boiler two"), (6L, s"$boiler three"),
      (7L, s"$boiler four") // boilerplate span in >3 docs → capped out
    ).toDF("doc_id", "text")
    val out = Corpus.spanDedupPairs(docs, col("doc_id"), col("text"),
        n = 5, maxBucket = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(out.exists(p => p._1 === 1L && p._2 === 2L))
    assert(!out.exists(p => p._1 >= 3L || p._2 === 3L))
    // the 4-doc boilerplate bucket exceeds maxBucket=3 → no 4-7 pairs
    assert(!out.exists(p => p._1 >= 4L))
  }

  test("tokenEntropy: 0 for constant docs, ln(n) for all-distinct docs") {
    val docs = Seq(
      (1L, "aa aa aa aa"), // H = 0
      (2L, "aa bb cc"), // uniform → ln 3
      (3L, "aa aa bb") // ln 3 − (2 ln 2)/3
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 4L, 1L, 0.0)))
    assert(out(1)._4 === math.rint((math.log(3.0)) * 1e9) / 1e9)
    assert(math.abs(out(2)._4 -
      (math.log(3.0) - 2.0 * math.log(2.0) / 3.0)) < 1e-8)
  }

  test("tokenize builds a deterministic top-V vocab and marks OOV as -1") {
    val docs = Seq(
      (1L, "aa bb aa cc"),
      (2L, "aa bb dd")
    ).toDF("doc_id", "text")
    // counts: aa=3, bb=2, cc=1, dd=1 → vocab(3): aa=0, bb=1, cc=2 (tie
    // cc<dd broken by word asc); dd is OOV
    val out = TextAnalysis.tokenize(docs, col("doc_id"), col("text"), 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 4L, 0L, "0 1 0 2")))
    assert(out(1) === ((2L, 3L, 1L, "0 1 -1")))
  }

  test("invertedIndex: true df, sorted postings, truncation at the cap") {
    val docs = Seq(
      (3L, "aa bb"), (1L, "aa bb cc"), (2L, "aa AA dd")  // aa repeats in-doc
    ).toDF("doc_id", "text")
    val out = TextAnalysis.invertedIndex(docs, col("doc_id"), col("text"),
        maxPostings = 2)
      .as[(String, Long, String)].collect().sortBy(_._1)
    // aa: df=3 (per-doc distinct, case folded), postings cut to 2 of 3
    assert(out.toSeq === Seq(
      ("aa", 3L, "1,2"), ("bb", 2L, "1,3"), ("cc", 1L, "1"), ("dd", 1L, "2")))
  }

  test("pmiCollocations: adjacent-pair PMI matches the closed form") {
    // corpus: "x y" twice and "x z" once → tokens: x=3, y=2, z=1, N=6
    // bigrams: (x,y)=2, (x,z)=1, M=3
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "x z")).toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(docs, col("text"), minCount = 1L)
      .as[(String, String, Long, Double)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4))).toMap
    def pmi(c2: Long, m: Long, c1a: Long, c1b: Long, n: Long): Double =
      BigDecimal(math.log(c2.toDouble / m) - math.log(c1a.toDouble / n) -
        math.log(c1b.toDouble / n)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    assert(out === Map(
      ("x", "y") -> ((2L, pmi(2, 3, 3, 2, 6))),
      ("x", "z") -> ((1L, pmi(1, 3, 3, 1, 6)))))
    // minCount prunes before the join
    val pruned = TextAnalysis.pmiCollocations(docs, col("text"), minCount = 2L)
      .as[(String, String, Long, Double)].collect()
    assert(pruned.map(r => (r._1, r._2)).toSeq === Seq(("x", "y")))
  }

  test("rrfFuse: fixed-point closed form, absent keys contribute nothing") {
    import graft.operators.Retrieval
    val l1 = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("key", "rnk")
    val l2 = Seq(("b", 1), ("a", 2)).toDF("key", "rnk")
    val got = Retrieval.rrfFuse(Seq(l1, l2), k = 60)
      .as[(String, Int, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def term(r: Int): Long = 1000000000000L / (60 + r)
    def rrf(rs: Int*): Double =
      math.rint(rs.map(term).sum.toDouble / 1e12 * 1e8) / 1e8
    assert(got("a") === ((2, rrf(1, 2))))
    assert(got("b") === ((2, rrf(2, 1))))
    assert(got("c") === ((1, rrf(3))))
    // fusion symmetry: a and b carry identical rank multisets
    assert(got("a")._2 === got("b")._2)
  }

  test("mmrRerank diversifies: near-duplicate of the top pick is deferred") {
    import graft.operators.Retrieval
    // A is most relevant; A2 is nearly identical to A but next by
    // relevance; B is orthogonal. Pure relevance would order A, A2, B;
    // MMR must defer the near-duplicate: A, B, A2.
    val cands = Seq(
      ("A", 0.99, Array(1.0f, 0.0f)),
      ("A2", 0.98, Array(0.999f, 0.02f)),
      ("B", 0.90, Array(0.0f, 1.0f))).toDF("key", "rel", "vec")
    val got = Retrieval.mmrRerank(cands, lambda = 0.75, k = 3)
      .orderBy("pick").as[(String, Int, Double, Double)].collect()
    assert(got.map(_._1).toSeq === Seq("A", "B", "A2"))
    assert(got.map(_._2).toSeq === Seq(1, 2, 3))
    // first pick's marginal value is λ·rel (empty-set penalty = 0)
    assert(math.abs(got(0)._3 - 0.75 * 0.99) < 1e-9)
    // the near-duplicate's marginal value is heavily penalized
    assert(got(2)._3 < 0.75 * 0.98 - 0.2)
  }
}
