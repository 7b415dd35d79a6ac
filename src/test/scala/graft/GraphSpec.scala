package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

class GraphSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  private def sym(pairs: (String, String)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("PageRank family ranks match golden IEEE bit patterns") {
    // every other case compares with a tolerance; this one pins the
    // exact doubles, so a refactor that reorders one floating-point op
    // in any recurrence (uniform or seeded teleport, with or without
    // the dangling completion, fixed or converged) fails here
    def bits(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.as[(String, Double)].collect().toSeq.sortBy(_._1)
        .map { case (n, r) => n -> java.lang.Double.doubleToRawLongBits(r) }
    val symE = sym(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"))
    val dirE = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("e", "a"))
      .toDF("src", "dst") // d is a sink, e has no in-edge
    val hubE = sym(((1 to 12).map(i => ("hub" + (i % 3), f"leaf$i%02d")) ++
      Seq(("hub0", "hub1"), ("hub1", "hub2"), ("leaf01", "leaf05"))): _*)
    val got = Seq(
      "pageRank/sym" -> bits(Graph.pageRank(symE, 5, 0.85)),
      "ppr/sym" -> bits(Graph.personalizedPageRank(symE,
        Seq("a", "d").toDF("node"), 5, 0.85)),
      "pageRank/dangling" -> bits(Graph.pageRank(dirE, 5, 0.85)),
      "ppr/dangling" -> bits(Graph.personalizedPageRank(dirE,
        Seq("a").toDF("node"), 5, 0.85)),
      "pprConverged" -> bits(Graph.personalizedPageRankConverged(hubE,
        Seq("hub0", "hub1").toDF("node"), 40, 0.3, 6)),
      "pageRankWarmStart" -> bits(Graph.pageRankWarmStart(hubE,
        Graph.pageRank(hubE, 2, 0.3), 30, 0.3, 6)))
    // recorded with the earlier code, which kept separate recurrences
    // for the uniform and the seeded teleport
    val want = Seq(
      "pageRank/sym" -> Seq(
        "a" -> 0x3fc882c24f0c3253L, "b" -> 0x3fc882c24f0c3253L,
        "c" -> 0x3fd1d41af3a14cecL, "d" -> 0x3fcc21338804e7c7L,
        "e" -> 0x3fbe6223e54122b6L),
      "ppr/sym" -> Seq(
        "a" -> 0x3fcaca25d42eabbaL, "b" -> 0x3fc4d8c7a96ba779L,
        "c" -> 0x3fd3cd5b24904ed3L, "d" -> 0x3fc7f4e3873b585cL,
        "e" -> 0x3fc0cd78b20a2e6dL),
      "pageRank/dangling" -> Seq(
        "a" -> 0x3fc48e00229101ccL, "b" -> 0x3fc3d9bfbf79a445L,
        "c" -> 0x3fd219fb2d09dcceL, "d" -> 0x3fd4309813cd045dL,
        "e" -> 0x3fb60633388f2f32L),
      "ppr/dangling" -> Seq(
        "a" -> 0x3fce1b5b2d4d4026L, "b" -> 0x3fc8dd3c36113404L,
        "c" -> 0x3fd6ffd7b2031cebL, "d" -> 0x3fcb07b9389b5200L,
        "e" -> 0x0000000000000000L),
      "pprConverged" -> Seq(
        "hub0" -> 0x3fd980f8cfa67f0aL, "hub1" -> 0x3fd959b82f71f94bL,
        "hub2" -> 0x3f9625a447eb42d1L, "leaf01" -> 0x3f94f37b142310dfL,
        "leaf02" -> 0x3f5542da9484cc2fL, "leaf03" -> 0x3f987bd02ffc2ecfL,
        "leaf04" -> 0x3f9447c68dd893e0L, "leaf05" -> 0x3f71e2cd3440c399L,
        "leaf06" -> 0x3f987bd02ffc2ecfL, "leaf07" -> 0x3f9447c68dd893e0L,
        "leaf08" -> 0x3f5542da9484cc2fL, "leaf09" -> 0x3f987bd02ffc2ecfL,
        "leaf10" -> 0x3f9447c68dd893e0L, "leaf11" -> 0x3f5542da9484cc2fL,
        "leaf12" -> 0x3f987bd02ffc2ecfL),
      "pageRankWarmStart" -> Seq(
        "hub0" -> 0x3fbdeeda982110bdL, "hub1" -> 0x3fbde753ddfbf155L,
        "hub2" -> 0x3fbc1d0c5ceb8347L, "leaf01" -> 0x3fafafcab71e8113L,
        "leaf02" -> 0x3fab4456e05e1562L, "leaf03" -> 0x3fab7c3c749d2aa2L,
        "leaf04" -> 0x3faae239d02b6944L, "leaf05" -> 0x3fb0028ddf5d0352L,
        "leaf06" -> 0x3fab7c3c749d2aa2L, "leaf07" -> 0x3faae239d02b6944L,
        "leaf08" -> 0x3fab4456e05e1562L, "leaf09" -> 0x3fab7c3c749d2aa2L,
        "leaf10" -> 0x3faae239d02b6944L, "leaf11" -> 0x3fab4456e05e1562L,
        "leaf12" -> 0x3fab7c3c749d2aa2L))
    want.foreach { case (k, w) =>
      assert(got.toMap.apply(k) === w, s"$k ranks drifted from the golden bits")
    }
  }

  test("pageRank on a symmetric pair splits mass evenly and conserves it") {
    val r = Graph.pageRank(sym(("a", "b")), iters = 3, damping = 0.85)
      .as[(String, Double)].collect().toMap
    assert(math.abs(r("a") - 0.5) < 1e-12 && math.abs(r("b") - 0.5) < 1e-12)
  }

  test("pageRank ranks a star's hub above its leaves, total mass ≈ 1") {
    val r = Graph.pageRank(sym(("c", "l1"), ("c", "l2"), ("c", "l3")),
        iters = 3, damping = 0.85)
      .as[(String, Double)].collect().toMap
    assert(r("c") > r("l1"))
    assert(r("l1") === r("l2") && r("l2") === r("l3"))
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    // hand-computed round 1: r1(c) = 0.15/4 + 0.85·(3·0.25) = 0.675
    val r1 = Graph.pageRank(sym(("c", "l1"), ("c", "l2"), ("c", "l3")),
        iters = 1, damping = 0.85)
      .as[(String, Double)].collect().toMap
    assert(math.abs(r1("c") - 0.675) < 1e-9)
  }

  test("pageRank mass conservation on an asymmetric-degree graph") {
    // path a-b-c (symmetrized): b has degree 2, ends degree 1
    val r = Graph.pageRank(sym(("a", "b"), ("b", "c")), iters = 4, damping = 0.85)
      .as[(String, Double)].collect().toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assert(r("b") > r("a") && r("a") === r("c"))
  }

  test("triangleCounts: K4 gives 3 per node; messy input is canonicalized") {
    // K4 with duplicate edges, reversed orientations, and a self-loop
    val k4 = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("c", "b"), ("b", "d"), ("c", "d"), ("d", "d")).toDF("src", "dst")
    val out = Graph.triangleCounts(k4).as[(String, Long)].collect().toMap
    // K4 has C(4,3)=4 triangles, each node in exactly 3
    assert(out === Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  test("triangleCounts: triangle + pendant edge + disjoint edge") {
    val g = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("x", "y"))
      .toDF("src", "dst")
    val out = Graph.triangleCounts(g).as[(String, Long)].collect().toMap
    // only the triangle's corners appear; d, x, y are in none
    assert(out === Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("kHopReachability: BFS min-distance with hop cap and early stop") {
    // chain a→b→c→d→e plus shortcut a→c; directed
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "c"))
      .toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val out = Graph.kHopReachability(e, seeds, maxHops = 2)
      .as[(String, Long)].collect().toMap
    // c via the shortcut at 1, not the chain at 2; e beyond the cap
    assert(out === Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L))
    // an unreachable component never appears even with spare hops
    val far = Graph.kHopReachability(
        e.unionByName(Seq(("p", "q")).toDF("src", "dst")), seeds, maxHops = 4)
      .as[(String, Long)].collect().toMap
    assert(far === Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L, "e" -> 3L))
  }

  test("personalizedPageRank concentrates mass near seeds; disconnected parts get zero") {
    // two symmetric components: a–b–c and x–y; seed = {a}
    val e0 = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val edges = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = Seq("a").toDF("node")
    val r = Graph.personalizedPageRank(edges, seeds, iters = 5, damping = 0.85)
      .as[(String, Double)].collect().toMap
    // seed's component holds ~all mass; the disconnected component none
    assert(r("x") === 0.0 && r("y") === 0.0)
    assert(r("a") > r("c"), s"seed should outrank the far node: $r")
    assert(r("a") > 0.2 && r("b") > 0.0 && r("c") > 0.0)
    // a seed absent from the graph is dropped, not NaN-poisoning
    val r2 = Graph.personalizedPageRank(edges,
        Seq("a", "ghost").toDF("node"), iters = 2, damping = 0.85)
      .as[(String, Double)].collect().toMap
    assert(r2("a") > 0.2 && !r2.values.exists(_.isNaN))
  }

  test("labelPropagation spreads seed labels by majority with min-label ties") {
    // chain a→b→c: b labeled round 1, c round 2; tie at z (one vote
    // each from x=1, y=2) resolves to the smaller label; seeds fixed
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "z"), ("y", "z"),
      ("z", "x")).toDF("src", "dst")
    val seeds = Seq(("a", 7L), ("x", 1L), ("y", 2L)).toDF("node", "label")
    val got = Graph.labelPropagation(edges, seeds, iters = 2)
      .as[(String, Long)].collect().toMap
    assert(got("a") === 7L && got("b") === 7L && got("c") === 7L)
    assert(got("z") === 1L, s"tie must break to the smaller label: $got")
    assert(got("x") === 1L, "seeds must not be overwritten by votes")
    // 1 round: c not yet reached
    val r1 = Graph.labelPropagation(edges, seeds, iters = 1)
      .as[(String, Long)].collect().toMap
    assert(!r1.contains("c") && r1("b") === 7L)
  }

  test("labelPropagation convergence guard trips on a chain deeper than iters") {
    // a 6-node chain: the label needs 5 rounds to reach f — round-3
    // state is the documented k-hop answer, but with requireConverged
    // the operator must fail LOUDLY instead of shipping it
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("e", "f")).toDF("src", "dst")
    val seeds = Seq(("a", 1L)).toDF("node", "label")
    val e = intercept[IllegalStateException] {
      Graph.labelPropagation(chain, seeds, iters = 3, requireConverged = true)
    }
    assert(e.getMessage.contains("not converged"))
    // default (fixed-k contract): same inputs return the 3-hop answer
    val khop = Graph.labelPropagation(chain, seeds, iters = 3)
      .as[(String, Long)].collect().toMap
    assert(khop.keySet === Set("a", "b", "c", "d"))
    // enough rounds: converged, all nodes labeled, guard passes
    val full = Graph.labelPropagation(chain, seeds, iters = 5,
        requireConverged = true)
      .as[(String, Long)].collect().toMap
    assert(full.keySet === Set("a", "b", "c", "d", "e", "f"))
    assert(full.values.forall(_ === 1L))
  }

  test("pageRank conserves mass on a DIRECTED graph with dangling sinks") {
    // a→b→c, a→c: c is a pure sink (no out-edges); b and c only appear
    // as dst for some edges — the node universe must be src ∪ dst and
    // the sink's rank must re-enter uniformly, else Σr decays per round
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 5, damping = 0.85)
      .as[(String, Double)].collect().toMap
    assert(r.keySet === Set("a", "b", "c"), s"sink nodes must be ranked: $r")
    assert(math.abs(r.values.sum - 1.0) < 1e-9,
      s"dangling mass lost: Σr = ${r.values.sum}")
    // c receives from both a and b plus its own recycled mass: top rank
    assert(r("c") > r("b") && r("b") > 0 && r("a") > 0)
  }

  test("personalizedPageRank returns dangling mass to the seeds, Σr ≈ 1") {
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst") // c is a sink
    val r = Graph.personalizedPageRank(edges, Seq("a").toDF("node"),
        iters = 6, damping = 0.85)
      .as[(String, Double)].collect().toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9,
      s"dangling mass lost: Σr = ${r.values.sum}")
    // mass re-enters at the seed, so the seed keeps a solid share
    assert(r("a") > 0.3 && r("c") > 0.0)
  }

  test("pageRankConverged early-exits and matches the full fixed-iteration run rounded") {
    // hub graph at damping 0.3: the ℓ1 bound contracts 0.3× per round,
    // so the rounded-output proof fires well before maxIters
    val edges = sym((1 to 40).map(i => ("hub" + (i % 3), f"leaf$i%02d")): _*)
    val maxIters = 40
    val dp = 6
    val (conv, rounds) = Graph.pageRankImpl(
      edges, None, maxIters, damping = 0.3, stopDp = Some(dp))
    assert(rounds < maxIters,
      s"expected a provable early exit, ran all $rounds rounds")
    val got = conv.select(col("node"), round(col("r"), dp).as("rank"))
      .as[(String, Double)].collect().toMap
    val full = Graph.pageRank(edges, maxIters, damping = 0.3)
      .select(col("node"), round(col("r"), dp).as("rank"))
      .as[(String, Double)].collect().toMap
    assert(got === full,
      s"early-exit output diverges from the $maxIters-round run")
  }

  test("pageRankConverged early-exits on a DIRECTED graph with danglers") {
    // unsymmetrized hub→leaf graph: every leaf is a pure sink, so the
    // per-round dangling completion runs inside the proved recurrence
    val edges = (1 to 40).map(i => ("hub" + (i % 3), f"leaf$i%02d"))
      .toDF("src", "dst")
    val maxIters = 40
    val dp = 6
    val (conv, rounds) = Graph.pageRankImpl(
      edges, None, maxIters, damping = 0.3, stopDp = Some(dp))
    assert(rounds < maxIters,
      s"expected a provable early exit, ran all $rounds rounds")
    val got = conv.select(col("node"), round(col("r"), dp).as("rank"))
      .as[(String, Double)].collect().toMap
    val full = Graph.pageRank(edges, maxIters, damping = 0.3)
      .select(col("node"), round(col("r"), dp).as("rank"))
      .as[(String, Double)].collect().toMap
    assert(got === full,
      s"early-exit output diverges from the $maxIters-round run")
  }

  test("personalizedPageRankConverged early-exits and matches the full run rounded") {
    val edges = sym((1 to 40).map(i => ("hub" + (i % 3), f"leaf$i%02d")): _*)
    val seeds = Seq("hub0", "hub1").toDF("node")
    val maxIters = 40
    val dp = 6
    val (conv, rounds) = Graph.pageRankImpl(
      edges, Some(seeds), maxIters, damping = 0.3, stopDp = Some(dp))
    assert(rounds < maxIters,
      s"expected a provable early exit, ran all $rounds rounds")
    val got = conv.select(col("node"), round(col("r"), dp).as("rank"))
      .as[(String, Double)].collect().toMap
    val full = Graph.personalizedPageRank(edges, seeds, maxIters, damping = 0.3)
      .select(col("node"), round(col("r"), dp).as("rank"))
      .as[(String, Double)].collect().toMap
    assert(got === full,
      s"early-exit output diverges from the $maxIters-round run")
  }

  test("personalizedPageRankConverged on a slow-converging graph runs every round") {
    val edges = sym(("a", "b"), ("b", "c"), ("c", "d"))
    val seeds = Seq("a").toDF("node")
    val (conv, rounds) = Graph.pageRankImpl(
      edges, Some(seeds), iters = 4, damping = 0.95, stopDp = Some(9))
    assert(rounds === 4)
    val got = conv.as[(String, Double)].collect().toMap
    val full = Graph.personalizedPageRank(edges, seeds, 4, 0.95)
      .as[(String, Double)].collect().toMap
    assert(got === full)
  }

  test("pageRankConverged on a slow-converging graph runs every round (no unsound exit)") {
    // damping 0.95 → bound factor d/(1−d) = 19: at 9-decimal rounding
    // the proof cannot fire within 4 rounds, so all 4 must run and the
    // result must equal the plain fixed-iteration operator exactly
    val edges = sym(("a", "b"), ("b", "c"), ("c", "d"))
    val (conv, rounds) = Graph.pageRankImpl(
      edges, None, iters = 4, damping = 0.95, stopDp = Some(9))
    assert(rounds === 4)
    val got = conv.as[(String, Double)].collect().toMap
    val full = Graph.pageRank(edges, 4, 0.95)
      .as[(String, Double)].collect().toMap
    assert(got === full)
  }

  test("pageRankWarmStart: fewer rounds than cold, provably equal to the cold fixed-iteration run") {
    // batch 1: two of the three hubs' leaves; batch 2 grows the graph
    // with the third hub and its leaves. Warm-starting the full graph
    // from batch 1's converged ranks must land on EXACTLY the cold
    // 18-round answer (rounded), in fewer rounds than the cold
    // converged run takes.
    val maxIters = 18
    val dp = 6
    val d = 0.3
    val full = (1 to 40).map(i => ("hub" + (i % 3), f"leaf$i%02d"))
    val old = full.filter(_._1 != "hub2")
    val prev = Graph.pageRankConverged(sym(old: _*), maxIters, d, dp)
    val (warm, warmRounds) = Graph.pageRankImpl(
      sym(full: _*), None, maxIters, d, Some(dp), Some(prev))
    val (_, coldRounds) = Graph.pageRankImpl(
      sym(full: _*), None, maxIters, d, Some(dp))
    assert(warmRounds <= coldRounds,
      s"warm start should never need MORE rounds: warm=$warmRounds cold=$coldRounds")
    val got = warm.select(col("node"), round(col("r"), dp).as("rank"))
      .as[(String, Double)].collect().toMap
    val cold18 = Graph.pageRank(sym(full: _*), maxIters, d)
      .select(col("node"), round(col("r"), dp).as("rank"))
      .as[(String, Double)].collect().toMap
    assert(got === cold18,
      "warm-started ranks diverge from the cold fixed-iteration oracle")
    // nodes the previous vector never saw are ranked
    assert(got.keys.exists(_.startsWith("hub2")))
    // the clean warm-start win, unquantized by the probe schedule: a
    // RESTART from the same graph's converged ranks starts at the
    // fixpoint — δ₁ is already microscopic and the proof fires on the
    // very first probe, where the cold run needs double-digit rounds
    val (warm2, restartRounds) = Graph.pageRankImpl(
      sym(full: _*), None, maxIters, d, Some(dp), Some(warm))
    assert(restartRounds <= 2,
      s"fixpoint restart should prove out in ≤2 rounds, took $restartRounds (cold: $coldRounds)")
    assert(restartRounds < coldRounds)
    val got2 = warm2.select(col("node"), round(col("r"), dp).as("rank"))
      .as[(String, Double)].collect().toMap
    assert(got2 === cold18)
  }

  test("personalizedPageRankWarmStart equals the cold fixed-iteration run; restart proves out fast") {
    val maxIters = 18
    val dp = 6
    val d = 0.3
    val full = (1 to 40).map(i => ("hub" + (i % 3), f"leaf$i%02d"))
    val seeds = Seq("hub0", "hub1").toDF("node")
    val prev = Graph.personalizedPageRankConverged(
      sym(full.filter(_._1 != "hub2"): _*), seeds, maxIters, d, dp)
    val (warm, warmRounds) = Graph.pageRankImpl(
      sym(full: _*), Some(seeds), maxIters, d, Some(dp), Some(prev))
    val got = warm.select(col("node"), round(col("r"), dp).as("rank"))
      .as[(String, Double)].collect().toMap
    val cold18 = Graph.personalizedPageRank(sym(full: _*), seeds, maxIters, d)
      .select(col("node"), round(col("r"), dp).as("rank"))
      .as[(String, Double)].collect().toMap
    assert(got === cold18,
      "warm-started PPR diverges from the cold fixed-iteration oracle")
    val (_, coldRounds) = Graph.pageRankImpl(
      sym(full: _*), Some(seeds), maxIters, d, Some(dp))
    assert(warmRounds <= coldRounds)
    // fixpoint restart: proof fires on the first probe
    val (warm2, restartRounds) = Graph.pageRankImpl(
      sym(full: _*), Some(seeds), maxIters, d, Some(dp), Some(warm))
    assert(restartRounds <= 2 && restartRounds < coldRounds,
      s"fixpoint restart took $restartRounds rounds (cold: $coldRounds)")
    assert(warm2.select(col("node"), round(col("r"), dp).as("rank"))
      .as[(String, Double)].collect().toMap === cold18)
  }

  test("pageRankWarmStart THROWS when the equality proof cannot fire (never silent wrong ranks)") {
    val edges = sym(("a", "b"), ("b", "c"), ("c", "d"))
    // a garbage previous vector (mass 10^9): the contraction still
    // converges eventually, but within 6 rounds the measured δ cannot
    // clear the grid — the operator must refuse loudly rather than
    // return warm ranks that do NOT provably equal the cold oracle
    val garbage = Graph.pageRank(edges, 2, 0.3)
      .select(col("node"), (col("r") * 1e9).as("r"))
    val ex = intercept[IllegalStateException] {
      Graph.pageRankWarmStart(edges, garbage, maxIters = 6,
        damping = 0.3, roundDp = 2).count()
    }
    assert(ex.getMessage.contains("proof"))
    // and the a-priori-slack guard: when 2·d^maxIters itself cannot
    // clear the grid, no measurement could ever help — fail BEFORE any
    // round runs
    val ex2 = intercept[IllegalArgumentException] {
      Graph.pageRankWarmStart(edges, garbage, maxIters = 2,
        damping = 0.95, roundDp = 9)
    }
    assert(ex2.getMessage.contains("grid"))
  }
}
