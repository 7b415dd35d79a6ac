package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Analytics

/** Market-analytics pack: VWAP, drawdown, RSI, Bollinger bands —
  * closed-form fixtures with hand-computed expectations.
  */
class MarketSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  test("vwap weights prices by volume exactly") {
    val df = Seq(("a", 10.0, 1.0), ("a", 20.0, 3.0), ("b", 5.0, 2.0))
      .toDF("k", "p", "v")
    val out = Analytics.vwap(df, Seq(col("k")), col("p"), col("v"))
      .orderBy("k").collect()
    assert(out(0).getDouble(1) === 17.5) // (10·1 + 20·3) / 4
    assert(out(0).getDouble(2) === 4.0 && out(0).getLong(3) === 2L)
    assert(out(1).getDouble(1) === 5.0)
  }

  test("drawdown tracks peak-to-current decline") {
    val df = Seq((1L, 10.0), (2L, 5.0), (3L, 20.0), (4L, 10.0)).toDF("i", "v")
    val out = Analytics.drawdown(df, Seq(lit(1)), Seq(col("i")), col("v"))
      .orderBy("i").select("run_max", "drawdown_pct")
      .as[(Double, Double)].collect()
    assert(out === Array((10.0, 0.0), (10.0, 0.5), (20.0, 0.0), (20.0, 0.5)))
  }

  test("rsi: 100 on all-gain series, 50 on balanced seesaw, null first row") {
    val up = (1 to 6).map(i => (i.toLong, i * 1.0)).toDF("i", "v")
    val r1 = Analytics.rsi(up, Seq(lit(1)), Seq(col("i")), col("v"), 3)
      .orderBy("i").select("rsi").as[Option[Double]].collect()
    assert(r1.head.isEmpty)
    assert(r1.tail.forall(_.contains(100.0)))

    val seesaw = Seq((1L, 10.0), (2L, 12.0), (3L, 10.0), (4L, 12.0), (5L, 10.0))
      .toDF("i", "v")
    val r2 = Analytics.rsi(seesaw, Seq(lit(1)), Seq(col("i")), col("v"), 4)
      .orderBy("i").select("rsi").as[Option[Double]].collect()
    // frames with equal total gain and loss → RS = 1 → RSI = 50; the
    // i=4 frame holds deltas (+2, −2, +2) → RS = 2 → RSI = 66.667
    assert(r2(2).contains(50.0) && r2(4).contains(50.0))
    assert(r2(3).contains(66.666666667))
  }

  test("twap weights values by holding seconds; last observation carries none") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(base.getTime + s * 1000L)
    val df = Seq((1L, at(0), 10.0), (2L, at(10), 20.0), (3L, at(40), 30.0))
      .toDF("event_id", "ts", "v")
    val out = Analytics.twap(df, Seq(lit(1).as("g")), col("ts"),
      Seq(col("event_id")), col("v")).collect()
    assert(out.length === 1)
    // (10·10 + 20·30) / 40 — the 30.0 at t=40 has no successor
    assert(out(0).getDouble(1) === 17.5)
    assert(out(0).getLong(2) === 40L && out(0).getLong(3) === 3L)
  }

  test("twap: single observation and zero-span groups yield null, not NaN") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val df = Seq((1L, "a", base, 10.0), (2L, "b", base, 5.0), (3L, "b", base, 9.0))
      .toDF("event_id", "g", "ts", "v")
    val out = Analytics.twap(df, Seq(col("g")), col("ts"),
      Seq(col("event_id")), col("v")).orderBy("g").collect()
    assert(out(0).isNullAt(1)) // a: one obs, sum(dt) null
    assert(out(1).isNullAt(1)) // b: two obs in the same second, sum(dt) = 0
  }

  test("rollingZscore: null until frame fills, null on constant window, flags spikes") {
    val df = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0), (4L, 1.0), (5L, 10.0))
      .toDF("i", "v")
    val out = Analytics.rollingZscore(df, Seq(lit(1)), Seq(col("i")),
        col("v"), n = 3, k = 1.0)
      .orderBy("i").select("zscore", "is_anomaly")
      .as[(Option[Double], Boolean)].collect()
    assert(out(0)._1.isEmpty && !out(0)._2) // warm-up
    assert(out(1)._1.isEmpty && !out(1)._2) // warm-up
    assert(out(2)._1.isEmpty && !out(2)._2) // constant window, σ = 0
    // frame (1,1,10): μ = 4, σ = √18 → z = 6/√18 = √2
    assert(out(4)._1.contains(1.414213562) && out(4)._2)
  }

  test("marketBasket computes support/confidence/lift from basket co-occurrence") {
    val df = Seq(
      ("u1", "a"), ("u1", "b"), ("u2", "a"), ("u2", "b"),
      ("u3", "a"), ("u3", "c"), ("u4", "b"),
      ("u1", "a") // duplicate (basket, item) row must not inflate counts
    ).toDF("u", "item")
    val out = Analytics.marketBasket(df, col("u"), col("item"))
      .orderBy("item_a", "item_b")
      .select("item_a", "item_b", "n_ab", "support", "confidence", "lift")
      .as[(String, String, Long, Double, Double, Double)].collect()
    // N = 4 baskets; n_a = 3, n_b = 3, n_c = 1
    val ab = out.find(r => r._1 == "a" && r._2 == "b").get
    assert(ab._3 === 2L && ab._4 === 0.5)
    assert(ab._5 === 0.666666667)            // 2/3
    assert(ab._6 === 0.888888889)            // 2·4/(3·3)
    val ac = out.find(r => r._1 == "a" && r._2 == "c").get
    assert(ac._3 === 1L && ac._6 === 1.333333333) // 1·4/(3·1)
    // directional: confidence(c→a) = 1/1, same lift
    val ca = out.find(r => r._1 == "c" && r._2 == "a").get
    assert(ca._5 === 1.0 && ca._6 === 1.333333333)
  }

  test("lastTouchAttribution credits the latest in-lookback touch, nulls outside it") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(base.getTime + s * 1000L)
    val df = Seq(
      (1L, "u1", at(0), "click"),
      (2L, "u1", at(50), "click"),     // the later touch wins
      (3L, "u1", at(60), "purchase"),  // attributed to 2, 10 s
      (4L, "u1", at(1000), "purchase"),// gap 950 > lookback 100 → null
      (5L, "u2", at(10), "purchase")   // no touch at all → null
    ).toDF("event_id", "u", "ts", "typ")
    val out = Analytics.lastTouchAttribution(df, col("u"), col("ts"),
        Seq(col("event_id")), col("event_id"), col("typ"),
        "click", "purchase", lookbackSec = 100L)
      .orderBy("conv_event_id")
      .select("conv_event_id", "touch_event_id", "secs_since_touch")
      .as[(Long, Option[Long], Option[Long])].collect()
    assert(out.toSeq === Seq(
      (3L, Some(2L), Some(10L)),
      (4L, None, None),
      (5L, None, None)))
  }

  test("lastTouchAttribution with touchType == convType never self-attributes") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(base.getTime + s * 1000L)
    val df = Seq(
      (1L, "u1", at(0), "purchase"),   // first purchase: no prior touch
      (2L, "u1", at(40), "purchase")   // repeat: attributed to 1, 40 s
    ).toDF("event_id", "u", "ts", "typ")
    val out = Analytics.lastTouchAttribution(df, col("u"), col("ts"),
        Seq(col("event_id")), col("event_id"), col("typ"),
        "purchase", "purchase", lookbackSec = 100L)
      .orderBy("conv_event_id")
      .select("conv_event_id", "touch_event_id", "secs_since_touch")
      .as[(Long, Option[Long], Option[Long])].collect()
    assert(out.toSeq === Seq(
      (1L, None, None),                // NOT (1, Some(1), Some(0))
      (2L, Some(1L), Some(40L))))
  }

  test("topPaths orders steps by time, truncates at maxSteps, ranks by count") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(base.getTime + s * 1000L)
    val df = Seq(
      (1L, "u1", at(0), "a"), (2L, "u1", at(1), "b"), (3L, "u1", at(2), "c"),
      (4L, "u2", at(0), "a"), (5L, "u2", at(1), "b"), (6L, "u2", at(2), "c"),
      (7L, "u3", at(2), "b"), (8L, "u3", at(0), "a"),  // out-of-order input
      (9L, "u4", at(0), "z")
    ).toDF("event_id", "u", "ts", "typ")
    val out = Analytics.topPaths(df, col("u"), col("ts"),
        Seq(col("event_id")), col("typ"), maxSteps = 2, k = 2)
      .as[(String, Long)].collect()
    // first-2 paths: u1, u2, u3 all walk "a>b" (u3 proves TIME order
    // beats insert order); u4 walks "z"; k=2 keeps both distinct paths
    assert(out.toSeq === Seq(("a>b", 3L), ("z", 1L)))
  }

  test("ewma matches the hand-computed adjusted form and ignores input order") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(base.getTime + s * 1000L)
    // values 10, 20, 40 in time order; alpha 0.5 → weights 0.25,0.5,1
    val df = Seq(
      (2L, "u", at(1), 20.0), (3L, "u", at(2), 40.0), (1L, "u", at(0), 10.0)
    ).toDF("event_id", "u", "ts", "v")
    val out = Analytics.ewma(df, Seq(col("u")), col("ts"),
        Seq(col("event_id")), col("v"), alpha = 0.5)
      .as[(String, Long, Double)].collect()
    val expect = BigDecimal((0.25 * 10 + 0.5 * 20 + 1.0 * 40) / 1.75)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq === Seq(("u", 3L, expect)))
  }

  test("abTest computes the pooled two-proportion z and flags extra arms") {
    // a: 4 users, 3 convert; b: 4 users, 1 converts
    val rows = Seq(
      ("u1", "a", true), ("u1", "a", false),   // converted-ever, 2 events
      ("u2", "a", true), ("u3", "a", true), ("u4", "a", false),
      ("u5", "b", true), ("u6", "b", false), ("u7", "b", false),
      ("u8", "b", false)
    ).toDF("u", "v", "conv")
    val out = Analytics.abTest(rows, col("u"), col("v"), col("conv"))
      .select("va", "vb", "n_variants", "n_a", "conv_a", "n_b", "conv_b", "z")
      .as[(String, String, Long, Long, Long, Long, Long, Option[Double])]
      .collect().head
    assert((out._1, out._2, out._3) === (("a", "b", 2L)))
    assert((out._4, out._5, out._6, out._7) === ((4L, 3L, 4L, 1L)))
    val p = 4.0 / 8.0
    val zExp = BigDecimal((0.75 - 0.25) / math.sqrt(p * (1 - p) * (0.25 + 0.25)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out._8 === Some(zExp))
    // degenerate pool: nobody converts anywhere → z is null, not NaN
    val none = Analytics.abTest(rows.withColumn("conv", lit(false)),
        col("u"), col("v"), col("conv"))
      .select("z").as[Option[Double]].collect().head
    assert(none === None)
    // no cross-variant leakage above → n_contaminated = 0; u1 exposed to
    // BOTH arms → counted in each arm's n AND flagged as contaminated
    assert(out_nContaminated(rows) === 0L)
    val leaky = rows.union(Seq(("u1", "b", false)).toDF("u", "v", "conv"))
    val lk = Analytics.abTest(leaky, col("u"), col("v"), col("conv"))
      .select("n_contaminated", "n_a", "n_b").as[(Long, Long, Long)]
      .collect().head
    assert(lk === ((1L, 4L, 5L)))
    // empty input → ZERO rows (matching the oracle's CTE-join shape),
    // not one all-null aggregate row
    assert(Analytics.abTest(rows.filter(lit(false)),
      col("u"), col("v"), col("conv")).count() === 0L)
  }

  private def out_nContaminated(rows: org.apache.spark.sql.DataFrame): Long =
    Analytics.abTest(rows, col("u"), col("v"), col("conv"))
      .select("n_contaminated").as[Long].collect().head

  test("joinFanoutAudit ranks keys by multiplicity product") {
    val l = Seq(1L, 1L, 1L, 2L, 3L).toDF("k")        // m_l: 1→3, 2→1, 3→1
    val r = Seq(1L, 2L, 2L, 2L, 9L).toDF("k")        // m_r: 1→1, 2→3, 9→1
    val out = Analytics.joinFanoutAudit(l, r, col("k"), col("k"), k = 2)
      .as[(Long, Long, Long, Long)].collect()
    // fanout: key1 = 3·1 = 3, key2 = 1·3 = 3 (tie → smaller key first);
    // keys 3 and 9 appear on one side only and never explode the join
    assert(out.toSeq === Seq((1L, 3L, 1L, 3L), (2L, 1L, 3L, 3L)))
  }

  test("transitions builds the per-state-normalized Markov matrix") {
    val df = Seq(
      ("u1", 1L, "a"), ("u1", 2L, "b"), ("u1", 3L, "a"),
      ("u2", 1L, "a"), ("u2", 2L, "b"),
      ("u3", 1L, "a"), ("u3", 2L, "c")
    ).toDF("u", "i", "s")
    val out = Analytics.transitions(df, col("u"), Seq(col("i")), col("s"))
      .orderBy("from_state", "to_state")
      .as[(String, String, Long, Double)].collect()
    assert(out.toSeq === Seq(
      ("a", "b", 2L, 0.666666667),
      ("a", "c", 1L, 0.333333333),
      ("b", "a", 1L, 1.0)))
  }

  test("bollinger: constant series has zero-width bands, no breakout") {
    val df = (1 to 10).map(i => (i.toLong, 5.0)).toDF("i", "v")
    val out = Analytics.bollinger(df, Seq(lit(1)), Seq(col("i")), col("v"),
        n = 5, k = 2.0)
      .select("sma", "upper", "lower", "breakout").distinct().collect()
    assert(out.length === 1)
    assert(out(0).getDouble(0) === 5.0 && out(0).getDouble(1) === 5.0 &&
      out(0).getDouble(2) === 5.0 && out(0).getString(3) === "none")
  }

  test("autocorr: +1 on a linear ramp, -1 on an alternating series") {
    val ramp = (1 to 10).map(i => ("r", i.toLong, i * 2.0))
    val saw = (1 to 10).map(i => ("s", i.toLong, if (i % 2 == 0) 1.0 else -1.0))
    val df = (ramp ++ saw).toDF("k", "i", "v")
    val out = Analytics.autocorr(df, Seq(col("k")), Seq(col("i")), col("v"), 1)
      .as[(String, Long, Double)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(out("r")._1 === 9L && math.abs(out("r")._2 - 1.0) < 1e-9)
    assert(out("s")._1 === 9L && math.abs(out("s")._2 + 1.0) < 1e-9)
  }

  test("cohortRetention buckets users by first day and counts offsets") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val df = Seq(
      (1L, ts(1)), (1L, ts(2)), (1L, ts(4)), (1L, ts(4)), // dup same day
      (2L, ts(2))
    ).toDF("u", "b")
    val out = Analytics.cohortRetention(df, col("u"), col("b"))
      .as[(java.sql.Timestamp, Int, Long)].collect().toSet
    assert(out === Set((ts(1), 0, 1L), (ts(1), 1, 1L), (ts(1), 3, 1L),
      (ts(2), 0, 1L)))
  }

  test("funnelStages counts stages reached strictly in order") {
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val df = Seq(
      ("a", ts(1), 1L, "view"), ("a", ts(2), 2L, "click"), ("a", ts(3), 3L, "purchase"),
      ("b", ts(1), 4L, "click"), ("b", ts(2), 5L, "view"), ("b", ts(3), 6L, "purchase"),
      ("c", ts(1), 7L, "view"), ("c", ts(2), 8L, "purchase"),
      ("d", ts(1), 9L, "purchase")
    ).toDF("u", "ts", "id", "et")
    val out = Analytics.funnelStages(df, col("u"), col("ts"), col("id"),
        col("et"), Seq("view", "click", "purchase"))
      .as[(String, Int)].collect().toMap
    // b's click precedes its view → chain stops after view; c skips
    // click → purchase doesn't count; d never views
    assert(out === Map("a" -> 3, "b" -> 1, "c" -> 1, "d" -> 0))
  }

  test("bollinger flags a spike beyond k·σ as an up-breakout") {
    // single outlier d above a constant frame sits above the band iff
    // 1 − n + k·√(n−1) < 0; n=10, k=2 gives −3 (n=5 would be exactly 0)
    val vals = Seq.fill(9)(10.0) :+ 30.0
    val df = vals.zipWithIndex.map { case (v, i) => ((i + 1).toLong, v) }
      .toDF("i", "v")
    val out = Analytics.bollinger(df, Seq(lit(1)), Seq(col("i")), col("v"),
        n = 10, k = 2.0)
      .orderBy("i").select("breakout").as[String].collect()
    assert(out.last === "up" && out.init.forall(_ === "none"))
  }
}
