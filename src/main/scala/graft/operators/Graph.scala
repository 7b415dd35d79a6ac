package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph ranking over edge frames — the iterative-join compute family
  * next to [[NearDup.dedupClusters]]'s connected components. No driver-
  * side graph state: every round is a join + aggregate, so the operator
  * scales exactly like the shuffles it is made of.
  *
  * Checkpoint-release discipline (round-6 lesson): every intermediate
  * localCheckpoint here is [[Eager.tracked]] and released the moment the
  * next round is materialized — rounds only ever reference the previous
  * round, so round i's blocks are dead as soon as round i+1's checkpoint
  * job finishes. The edge/node frames that every round references are
  * released when the TERMINAL result is checkpointed
  * ([[Eager.terminalReleasing]]). Net: an operator retains at most two
  * rounds of blocks while running and exactly its (small) terminal
  * after returning, instead of one block set per round pinned until a
  * lucky driver GC lets the ContextCleaner run (measured: 3.5–4.8×
  * in-suite bench inflation 150 queries into a session).
  */
object Graph {

  /** Fixed-iteration PageRank over a directed edge frame (src, dst).
    *
    * r₀ = 1/N; rᵢ₊₁(v) = (1−d)/N + d·(Σ_{u→v} rᵢ(u)/deg(u) + Dᵢ/N),
    * where Dᵢ = Σ_{dangling u} rᵢ(u) is the mass parked on nodes with
    * no out-edges, redistributed uniformly (the standard
    * stochastic-matrix completion — without it a directed graph with
    * sinks leaks mass every round and Σr < 1). The node universe is
    * src ∪ dst, so pure sinks are ranked, not dropped. Dᵢ is one
    * scalar: an aggregate over the (node-sized) dangling subset of the
    * rank frame, broadcast into the recombination join — never a
    * driver-side action. On a symmetrized edge set (u↔v, the natural
    * form for similarity/co-occurrence graphs) no node is dangling,
    * Dᵢ = 0, and the recurrence reduces exactly (IEEE: x + 0.0 = x) to
    * the classic form.
    *
    * Determinism for the oracle: per-round contribution sums AND the
    * dangling-mass sum are cast to decimal(38,12) (order-independent
    * addition — Spark's partial/final aggregation order cannot perturb
    * the sum vs a single-node engine); everything else is a fixed IEEE
    * op sequence on identical doubles. A fixed iteration count (rather
    * than an epsilon test) keeps the plan static and the oracle
    * expressible as chained CTEs.
    *
    * Scale shape: the degree-annotated edge frame is materialized ONCE
    * with localCheckpoint (NOT persist — a cached plan compiles without
    * AQE, turning every round's rank join into a static sort-merge; see
    * [[NearDup.dedupClusters]] for the measured 3.5× cost of that trap),
    * and each round's rank frame is localCheckpoint-ed too: it is
    * node-sized, so AQE then broadcasts it into the edge join and the
    * only real shuffle per round is the contribution aggregate on dst.
    * Without the per-round truncation the lazy plan nests every prior
    * round's joins and the exchanges stop being reusable. Rounds are
    * sequential barriers by nature of the algorithm; iteration count is
    * the dial (3-5 captures the ranking for most graphs).
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double): DataFrame =
    pageRankImpl(edges, None, iters, damping, stopDp = None)._1

  /** [[pageRank]] with a PROVABLE convergence early-exit (round-10
    * verdict #6): runs at most `maxIters` rounds but stops after round
    * i as soon as the remaining iterations provably cannot change the
    * output ROUNDED to `roundDp` decimals. The proof: PageRank's
    * iteration matrix is column-stochastic, so differences contract in
    * ℓ1 by the damping factor per round — with δᵢ = ‖rᵢ − rᵢ₋₁‖₁
    * measured, every later iterate (including r_maxIters) lies within
    * ε = 2·δᵢ·d/(1−d) of rᵢ per node (×2 absorbs double-sum slop).
    * The exit additionally requires NO node's rank to be within ε of a
    * HALF_UP rounding boundary of the 10^-roundDp grid — only then is
    * round(rᵢ) = round(r_maxIters) certain, which is what the
    * fixed-iteration DuckDB oracle compares. A graph that converges
    * slower than the grid simply runs all `maxIters` rounds; the
    * per-round probe is two node-sized 1-row aggregates
    * (orchestration, never row data).
    */
  def pageRankConverged(edges: DataFrame, maxIters: Int, damping: Double,
      roundDp: Int): DataFrame =
    pageRankImpl(edges, None, maxIters, damping, stopDp = Some(roundDp))._1

  /** INCREMENTAL PageRank maintenance — re-rank a GROWN graph by
    * warm-starting from a previous rank vector instead of uniform: the
    * production crawl loop, where recomputing web-scale ranks from
    * scratch per ingest batch is the scale-killer and the graph between
    * batches barely moves. `prevRanks` is (node, r) from any earlier
    * run (ranks for nodes no longer present are dropped; new nodes
    * start at 1/N — any starting vector is admissible, see proof).
    *
    * PROVABLE equality with the cold fixed-iteration contract: the
    * PageRank map T is an affine contraction in ℓ1 with factor d and a
    * unique fixpoint r∞, FROM ANY starting vector. Two bounds combine:
    *   (a) ‖warmᵢ − r∞‖₁ ≤ 2·δᵢ·d/(1−d) with δᵢ measured per probe
    *       (the same bound the converged family uses, ×2 slop for
    *       double-sum error);
    *   (b) ‖cold_maxIters − r∞‖₁ ≤ 2·d^maxIters a priori (both rank
    *       vectors sum to 1, so their ℓ1 distance is ≤ 2 and T^k
    *       contracts it by d^k).
    * The exit fires only when every node's rank clears its nearest
    * HALF_UP boundary of the 10^-roundDp grid by the SUM of the two —
    * then round(warmᵢ) = round(cold_maxIters) per node, which is
    * exactly what the full-unroll oracle computes. A run whose proof
    * cannot fire within `maxIters` rounds THROWS (returning
    * non-provable ranks would silently break the oracle contract;
    * raise maxIters).
    */
  def pageRankWarmStart(edges: DataFrame, prevRanks: DataFrame,
      maxIters: Int, damping: Double, roundDp: Int): DataFrame =
    pageRankImpl(edges, None, maxIters, damping, stopDp = Some(roundDp),
      warmInit = Some(prevRanks))._1

  /** The one PageRank recurrence behind every public entry, returning
    * (ranks, rounds actually executed) — the round count is what the
    * converged and warm-start specs assert on. `seeds` picks the
    * teleport vector tele(v): None is uniform 1/N over the node
    * universe, Some is 1/|S| on the seeds present in the graph and 0
    * elsewhere. The recurrence is
    *   rᵢ₊₁ = spread(1−d) + d·(m + spread(Dᵢ)),
    * where m is the in-edge contribution sum and spread(x) = x·tele(v).
    * The uniform spread is written x / N with N an inlined literal, so
    * its plans keep the constant-folded fast path and each variant keeps
    * its exact IEEE op order. */
  private[graft] def pageRankImpl(edges: DataFrame, seeds: Option[DataFrame],
      iters: Int, damping: Double, stopDp: Option[Int],
      warmInit: Option[DataFrame] = None): (DataFrame, Int) = {
    val op = if (seeds.isEmpty) "pageRank" else "personalizedPageRank"
    require(iters >= 1, s"$op: iters must be ≥ 1, got $iters")
    require(damping > 0 && damping < 1,
      s"$op: damping must be in (0,1), got $damping")
    // warm-start slack: the a-priori bound on the COLD trajectory's
    // distance from the fixpoint at round `iters` (proof note on
    // [[pageRankWarmStart]]); zero for the cold paths, whose proof
    // bounds against their own trajectory directly
    val extraSlack = if (warmInit.isDefined) 2.0 * math.pow(damping, iters) else 0.0
    stopDp.filter(_ => warmInit.isDefined).foreach { dp =>
      require(extraSlack < 0.45 / math.pow(10.0, dp),
        s"${op}WarmStart: 2·d^maxIters = $extraSlack cannot clear the " +
          s"10^-$dp rounding grid — the equality proof can never fire; " +
          "raise maxIters or lower roundDp")
    }
    val bc0 = Eager.broadcastSnapshot(edges.sparkSession)
    // Materialize the caller's edge plan ONCE (round-10 verdict #6 —
    // profiling showed the setup consumed the raw plan twice, re-paying
    // the caller's scan+distinct+union per consumer), then build the
    // whole node universe in ONE aggregation pass: exploding each edge
    // into (src,1) and (dst,0) and summing per node yields nodes,
    // out-degrees, AND danglers (deg=0) from a single shuffle, where
    // the previous shape paid three (degree agg, node distinct,
    // dangling anti-join), each with its own checkpoint. The raw-edge
    // checkpoint is released as soon as the degree-annotated frame
    // exists — rounds only touch `ed`.
    val (eck, eckRel) = Eager.tracked(edges)
    val (info, infoRel) = Eager.tracked(nodeOutDegrees(eck))
    val (ed, edRel) = Eager.tracked(eck
      .join(info.filter(col("deg") > 0)
        .select(col("node").as("src"), col("deg")), Seq("src"))
      .select(col("src"), col("dst"), col("deg")))
    eckRel()
    val nodes = info.select("node")
    // nodes with no out-edge: their rank re-enters through the teleport
    val dang = info.filter(col("deg") === 0).select("node")
    // ONE orchestration job over the (checkpointed, node-sized) info
    // frame yields the node count AND the dangler check (round 12 —
    // these were two separate driver jobs; on the tiny converged-family
    // fixtures job floors dominate). A symmetrized graph has no
    // danglers and their correction term is exactly +0.0 per node, so
    // skipping it drops one join + aggregate + broadcast per round
    // while producing bit-identical ranks. The node count inlines as a
    // literal, removing a count-aggregate + broadcast subtree from
    // every round's plan. Same IEEE divisions as the per-row cast form.
    val infoStats = info.agg(count(lit(1)),
      coalesce(sum(when(col("deg") === 0, 1L).otherwise(0L)), lit(0L))).head()
    val hasDanglers = infoStats.getLong(1) > 0
    val nD = infoStats.getLong(0).toDouble
    // degenerate empty graph: init ranks would be 1/0 = Infinity and the
    // convergence probe's sum/min aggregates would come back NULL (NPE on
    // getDouble) — fail like the other argument checks instead
    require(nD > 0, s"$op: edges frame is empty (no nodes)")
    // (base, tele, spread, release): the frame each round recombines
    // onto, the teleport value per node, and how a scalar mass spreads
    // over the nodes by it. The seeded teleport frame is checkpointed
    // once; seeds absent from the graph drop out of the join.
    val (base, tele, spread, teleRel) = seeds match {
      case None =>
        (nodes, lit(1.0 / nD), (x: Column) => x / lit(nD), () => ())
      case Some(sd) =>
        val s = sd.select(col("node")).distinct().join(nodes, Seq("node"))
        val ns = s.agg(count(lit(1)).as("n_s"))
        val (t, rel) = Eager.tracked(nodes
          .join(s.withColumn("__seed", lit(true)), Seq("node"), "left")
          .crossJoin(broadcast(ns))
          .select(col("node"),
            when(col("__seed"), lit(1.0) / col("n_s").cast("double"))
              .otherwise(lit(0.0)).as("tele")))
        (t, col("tele"), (x: Column) => x * col("tele"), rel)
    }
    val init = warmInit match {
      case None => base.select(col("node"), tele.as("r"))
      case Some(prev) =>
        // restrict to the current node universe; nodes the previous
        // vector never saw start at their teleport value (any start is
        // admissible — the contraction proof is init-free)
        base.join(prev.select(col("node"), col("r").as("rp")), Seq("node"), "left")
          .select(col("node"), coalesce(col("rp"), tele).as("r"))
    }
    def round(r: DataFrame): DataFrame = {
      val m = ed
        .join(r.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum((col("r") / col("deg").cast("double")).cast("decimal(38,12)"))
          .cast("double").as("m"))
      val recombined = base.join(m, Seq("node"), "left")
      val inflow = coalesce(col("m"), lit(0.0))
      val (joined, mass) =
        if (hasDanglers) {
          val dm = r.join(dang, Seq("node"))
            .agg(coalesce(sum(col("r").cast("decimal(38,12)")),
              lit(0).cast("decimal(38,12)")).cast("double").as("dmass"))
          (recombined.crossJoin(broadcast(dm)), inflow + spread(col("dmass")))
        } else (recombined, inflow)
      joined.select(col("node"),
        (spread(lit(1.0) - lit(damping)) + lit(damping) * mass).as("r"))
    }
    val (r, i, relPrev) =
      iterate(init, round, iters, damping, stopDp, chainable = !hasDanglers,
        extraSlack = extraSlack, requireProof = warmInit.isDefined)
    // the terminal checkpoint frees EVERYTHING internal (last round's
    // frame, edges, node info, teleport) deterministically; the caller /
    // harness owns the terminal's own node-sized blocks. The rounds also
    // left one broadcast exchange each (rank/mass frames) — dead now
    // that the terminal is an RDD scan, destroyed by handle.
    val out = Eager.terminalReleasing(r, relPrev, edRel, infoRel, teleRel)
    Eager.releaseBroadcastsSince(edges.sparkSession, bc0)
    (out, i)
  }

  /** The shared round loop of the PageRank family, with BOUNDED LAZY
    * CHAINING (round 11): when the recurrence reads the rank frame
    * ONCE per round (`chainable` — the no-dangler paths), rounds
    * between materialization points fold lazily into a single plan,
    * so only probe endpoints and every-`maxChain`-th round pay a
    * checkpoint job. The per-round localCheckpoint was the dominant
    * cost of the converged variants — node-sized data, pure job
    * floors — and a k-deep chain of single-reference rounds is linear
    * in plan size. A recurrence that reads the rank frame TWICE per
    * round (dangling completion) would DOUBLE its subtree per lazy
    * level (the same exponential the directed oracle hit in DuckDB),
    * so it keeps one-round-one-checkpoint. Probe rounds, measured δs,
    * and results are identical to the per-round loop — only the
    * materialization schedule changes.
    *
    * Returns (final frame — lazy past the last checkpoint, so the
    * caller's terminal materializes it, rounds run, release handle
    * for the last internal checkpoint). */
  private def iterate(init: DataFrame, round: DataFrame => DataFrame,
      iters: Int, damping: Double, stopDp: Option[Int],
      chainable: Boolean, extraSlack: Double = 0.0,
      requireProof: Boolean = false): (DataFrame, Int, () => Unit) = {
    // chain FIXED runs only: a 3-5-iter fixed run folds into a single
    // terminal job (measured −25% on q_pagerank/q_ppr at sf0.1), but
    // A/B across chain depths 2/3/4/8 showed the CONVERGED runs
    // flat-to-worse under any chaining (non-monotone, noise-dominated,
    // all ≥ the per-round loop) — their probe points need materialized
    // pairs anyway, so the probing path keeps one-round-one-checkpoint
    val maxChain =
      if (chainable && stopDp.isEmpty) 8 else 1
    var relPrev: () => Unit = () => ()
    var r = init
    var i = 0
    var lazyDepth = 0
    var converged = false
    // first round whose convergence probe could possibly fire — pushed
    // forward predictively from each measured δ (contraction guarantees
    // a factor-d shrink per round, so probing before δ can reach the
    // grid target is a wasted job). A probe at the final round decides
    // nothing — the run ends either way — so probing stops at iters−1.
    var nextProbe = 1
    def ckpt(df: DataFrame): DataFrame = {
      val (c, rel) = Eager.tracked(df)
      relPrev(); relPrev = rel
      lazyDepth = 0
      c
    }
    // a probe at the final round decides nothing for the fixed-result
    // paths (the run ends either way) — but under requireProof it
    // decides between returning and THROWING, so it must run
    val probeLimit = if (requireProof) iters else iters - 1
    while (i < iters && !converged) {
      val probing = stopDp.isDefined && nextProbe <= probeLimit &&
        nextProbe <= i + maxChain
      if (!probing) {
        // advance one chain (or to the end); mid-run endpoints are
        // checkpointed, the final round stays lazy for the terminal
        val target = math.min(iters, i + maxChain)
        while (i < target) { i += 1; r = round(r); lazyDepth += 1 }
        if (i < iters) r = ckpt(r)
      } else {
        // fold lazily to the round BEFORE the probe, materialize it
        // (the probe's δ join and round nextProbe both read it), then
        // checkpoint the probed round itself
        while (i < nextProbe - 1) { i += 1; r = round(r); lazyDepth += 1 }
        if (lazyDepth > 0) r = ckpt(r)
        i += 1
        val prev = r
        val (ck, rel) = Eager.tracked(round(prev))
        val (stop, np) =
          probeConvergence(ck, prev, damping, stopDp.get, i, extraSlack)
        if (stop) converged = true else nextProbe = np
        relPrev(); relPrev = rel
        lazyDepth = 0
        r = ck
      }
    }
    if (requireProof && !converged)
      throw new IllegalStateException(
        s"warm start: the rounded-equality proof did not fire " +
          s"within $iters rounds — returning non-provable ranks would " +
          "silently break the fixed-iteration oracle contract. Raise " +
          "maxIters (or lower roundDp)")
    (r, i, relPrev)
  }

  /** The shared convergence probe of the PageRank family (pageRank,
    * [[personalizedPageRank]] — both recurrences are affine maps whose
    * linear part is `damping` × a column-stochastic matrix, so
    * differences contract in ℓ1 by the damping factor per round and
    * the same bound covers uniform-teleport, dangling-completed, and
    * seed-teleport variants alike). ONE probe job measures
    * δᵢ = ‖rᵢ−rᵢ₋₁‖₁ plus the minimum distance of any rank to a
    * HALF_UP boundary of the 10^-dp grid (1-row driver read,
    * orchestration only); returns (stop, nextProbeRound) — when the
    * bound cannot fire yet, the guaranteed factor-d shrink per round
    * prices how many rounds to skip before probing again. */
  private def probeConvergence(ck: DataFrame, prev: DataFrame,
      damping: Double, dp: Int, i: Int,
      extraSlack: Double = 0.0): (Boolean, Int) = {
    val grid = math.pow(10.0, dp)
    val row = ck.select(col("node"), col("r").as("rn"))
      .join(prev.select(col("node"), col("r").as("rp")), Seq("node"))
      .agg(sum(abs(col("rn") - col("rp"))).as("d"),
        min(abs((col("rn") * lit(grid)) % lit(1.0) - lit(0.5)))
          .as("b"))
      .head()
    val delta = row.getDouble(0)
    val minDist = row.getDouble(1)
    // extraSlack (warm start): the oracle's COLD trajectory sits within
    // 2·d^maxIters of the fixpoint — the clearance must absorb that too
    val eps = 2.0 * delta * damping / (1.0 - damping) + extraSlack
    // stop iff the bound is inside the grid AND every node clears its
    // nearest rounding boundary by ε
    if (eps * grid < 0.45 && minDist > eps * grid) (true, i + 1)
    else {
      // δ must shrink to ~target before the bound can fire; the
      // guaranteed rate is d per round — skip ahead. The slack eats
      // into the grid budget (guarded positive by the caller).
      val budget = 0.45 / grid - extraSlack
      val target = budget * (1.0 - damping) / (2.0 * damping)
      val skip = if (delta <= target) 1
        else math.ceil(math.log(target / delta) /
          math.log(damping)).toInt.max(1)
      (false, i + skip)
    }
  }

  /** One-pass node summary for the PageRank family: each edge explodes
    * to (src, 1) and (dst, 0); the per-node sum is the OUT-degree, so
    * one shuffle yields the node universe, the degrees, and the
    * danglers (deg = 0) at once. */
  private def nodeOutDegrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("src").as("node"), lit(1L).as("o")),
        struct(col("dst").as("node"), lit(0L).as("o")))).as("x"))
      .select(col("x.node").as("node"), col("x.o").as("o"))
      .groupBy("node").agg(sum(col("o")).as("deg"))

  /** Personalized PageRank — [[pageRank]] with the teleport mass
    * returning to a SEED set instead of all nodes: r₀ = tele;
    * rᵢ₊₁(v) = (1−d)·tele(v) + d·(Σ_{u→v} rᵢ(u)/deg(u) + Dᵢ·tele(v)),
    * where tele(v) = 1/|S| for seeds and 0 elsewhere, and the dangling
    * mass Dᵢ re-enters through the teleport vector (the personalized
    * analogue of the uniform completion — mass parked on sinks returns
    * to the seeds, keeping Σr = 1 and the ranking seed-centric). The
    * similarity-from-a-viewpoint primitive (recommendations,
    * related-entity expansion): mass concentrates around the seeds
    * instead of spreading to the global stationary ranking.
    *
    * Same plan shape, determinism contract, and checkpoint-release
    * discipline as [[pageRank]]; the teleport frame is node-sized,
    * localCheckpoint-ed once, and broadcast into each round's
    * recombination join. Seeds absent from the graph are dropped (they
    * can neither receive nor emit mass).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int, damping: Double): DataFrame =
    pageRankImpl(edges, Some(seeds), iters, damping, stopDp = None)._1

  /** [[personalizedPageRank]] with the PROVABLE convergence early-exit
    * of [[pageRankConverged]]: the PPR recurrence's linear part is the
    * same damping × column-stochastic matrix (the teleport restriction
    * changes only the affine constant), so the identical ℓ1-contraction
    * + rounding-boundary-clearance proof applies — stop once
    * round(rᵢ, roundDp) provably equals round(r_maxIters, roundDp),
    * which is exactly what the full-unroll oracle compares. */
  def personalizedPageRankConverged(edges: DataFrame, seeds: DataFrame,
      maxIters: Int, damping: Double, roundDp: Int): DataFrame =
    pageRankImpl(edges, Some(seeds), maxIters, damping,
      stopDp = Some(roundDp))._1

  /** [[pageRankWarmStart]] for PERSONALIZED PageRank: the PPR map is
    * the same damping × column-stochastic contraction (teleport only
    * changes the affine constant), so the identical warm-vs-cold
    * equality proof applies — measured contraction bound + a-priori
    * 2·d^maxIters cold bound + rounding-boundary clearance. Throws if
    * the proof cannot fire within maxIters. */
  def personalizedPageRankWarmStart(edges: DataFrame, seeds: DataFrame,
      prevRanks: DataFrame, maxIters: Int, damping: Double,
      roundDp: Int): DataFrame =
    pageRankImpl(edges, Some(seeds), maxIters, damping,
      stopDp = Some(roundDp), warmInit = Some(prevRanks))._1

  /** Fixed-iteration label propagation over a directed edge frame —
    * the weak-supervision primitive for training-data labeling: a small
    * SEED set carries trusted labels; each round every unlabeled node
    * adopts the MAJORITY label of its in-neighbors (ties broken by
    * smallest label — fully deterministic), seeds never change. After
    * `iters` rounds, returns (node, label) for every node reached by a
    * labeled path of length ≤ iters (plus the seeds).
    *
    * Scale shape: a round is one edge⋈labels join + a (node, label)
    * count aggregate + an argmax window whose partitions are bounded by
    * the LABEL CARDINALITY (≤ #labels rows per node — no skew risk, the
    * exact case where a window beats a groupBy+join-back), then a
    * seed-override anti-join on node-sized frames. Rounds are
    * [[Eager.tracked]] and released one behind, like every iterative
    * operator here.
    *
    * CONTRACT: fixed-k is a semantic, not an approximation — `iters`
    * bounds the labeled-path length, so round-k labels on a deeper
    * graph are the k-hop answer, NOT the fixpoint. Callers that need
    * the fixpoint (labels stable under one more round — every
    * reachable node labeled AND majority votes settled) pass
    * `requireConverged = true`: the operator then runs ONE extra vote
    * round and compares label-set signatures (count + exact decimal
    * hash-sum, the [[NearDup.dedupClusters]] fixpoint test), throwing
    * loudly instead of silently shipping round-k state — a chain
    * graph needing > iters rounds is the spec fixture.
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame,
      iters: Int, requireConverged: Boolean = false): DataFrame = {
    require(iters >= 1, s"labelPropagation: iters must be ≥ 1, got $iters")
    import org.apache.spark.sql.expressions.Window
    val bc0 = Eager.broadcastSnapshot(edges.sparkSession)
    val (e, eRel) = Eager.tracked(edges.select("src", "dst").distinct())
    val (sd, sdRel) = Eager.tracked(
      seeds.select(col("node"), col("label")).distinct())
    var labels = sd
    var relPrev: () => Unit = () => ()
    // one vote round as a lazy plan over `cur` — the loop body, and
    // (for the convergence probe) the "would one more round change
    // anything" question asked without checkpointing the extra round
    def step(cur: DataFrame): DataFrame = {
      val votes = e
        .join(cur.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("node"))
        .orderBy(col("n").desc, col("label"))
      val prop = votes.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).select("node", "label")
      sd.unionByName(
        prop.join(sd.select("node"), Seq("node"), "left_anti"))
    }
    // rounds fold LAZILY in bounded chains (round 11 — `cur` is read
    // once per step, so the chain is linear in plan size); only every
    // 6th round and the FINAL round checkpoint. The final checkpoint is
    // mandatory: the returned frame must not reference e/sd, which are
    // released below.
    var depth = 0
    (1 to iters).foreach { i =>
      labels = step(labels)
      depth += 1
      if (depth == 6 || i == iters) {
        val (ck, rel) = Eager.tracked(labels)
        relPrev(); relPrev = rel
        labels = ck
        depth = 0
      }
    }
    if (requireConverged) {
      // label-set signature: exact decimal sum of per-row hashes — the
      // same order-independent fixpoint test dedupClusters uses
      def signature(df: DataFrame): (Long, BigDecimal) = {
        val r = df.agg(count(lit(1)),
          sum(xxhash64(col("node"), col("label")).cast("decimal(38,0)"))).head()
        val s = r.getDecimal(1)
        (r.getLong(0), if (s == null) BigDecimal(0) else BigDecimal(s))
      }
      if (signature(step(labels)) != signature(labels))
        throw new IllegalStateException(
          s"labelPropagation has not converged after $iters rounds — " +
            "labels still change under one more vote round (a labeled " +
            "path longer than iters, or unsettled majorities). Raise " +
            "iters, or drop requireConverged if k-hop semantics are " +
            "intended")
    }
    // the final round's checkpoint IS the returned result (its handle
    // sits in relPrev — deliberately NOT called); the edge and seed
    // frames are dead once it materialized, as are the per-round
    // broadcast exchanges
    eRel(); sdRel()
    Eager.releaseBroadcastsSince(edges.sparkSession, bc0)
    labels
  }

  /** Per-node triangle counts over an undirected edge frame (src, dst) —
    * the clustering-coefficient / community-density primitive. Input may
    * carry either orientation, duplicates, and self-loops; it is
    * canonicalized (u < v, distinct, loops dropped) first.
    *
    * Scale design: wedges are enumerated from each edge's LOWER endpoint
    * under (degree, id) ordering — the classic degree-ordered
    * orientation (Chiba–Nishizeki / MR "node-iterator++"): every
    * triangle is generated exactly once from its lowest-degree corner,
    * and per-node wedge fan-out is bounded by each node's ORIENTED
    * out-degree, which the ordering caps at O(√m) on any graph — a
    * high-degree hub generates no wedges from itself, its low-degree
    * neighbors generate them instead. Without the reorientation the hub
    * contributes deg² wedges and one task inherits them all. Three
    * shuffles total (degree agg, wedge self-join on the shared source,
    * closure join on the canonical edge), each AQE-skew-splittable.
    *
    * Returns (node, n_tri) for every node in ≥ 1 triangle.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val bc0 = Eager.broadcastSnapshot(edges.sparkSession)
    val (e, eRel) = Eager.tracked(edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val uLower = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val (dirE, dirERel) = Eager.tracked(e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .select(when(uLower, col("u")).otherwise(col("v")).as("s"),
        when(uLower, col("v")).otherwise(col("u")).as("t")))
    val wedges = dirE.as("x").join(dirE.as("y"),
        col("x.s") === col("y.s") && col("x.t") < col("y.t"))
      .select(col("x.s").as("a"), col("x.t").as("b"), col("y.t").as("c"))
    val tri = wedges.join(
      e.select(col("u").as("bu"), col("v").as("cv")),
      least(col("b"), col("c")) === col("bu") &&
        greatest(col("b"), col("c")) === col("cv"))
    val counts = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    val out = Eager.terminalReleasing(counts, eRel, dirERel)
    Eager.releaseBroadcastsSince(edges.sparkSession, bc0)
    out
  }

  /** k-hop BFS reachability: min hop-distance (≤ maxHops) from a seed
    * set over a DIRECTED edge frame. Frontier iteration — each round
    * expands only the nodes discovered LAST round and anti-joins the
    * already-settled set, so a node's edges are traversed once total,
    * not once per round (the textbook Δ over naive semi-naive
    * evaluation); rounds are join + distinct + anti-join on node-sized
    * frames, localCheckpoint-ed for lineage truncation like every
    * iterative operator here, and released one round behind the loop
    * (round i's frames are dead once round i+1's are materialized). An
    * empty frontier short-circuits the remaining rounds (one count() on
    * a frontier-sized frame per round — the standard iterative-algorithm
    * driver check).
    *
    * Returns (node, dist) for every node within maxHops of a seed,
    * seeds themselves at dist 0.
    */
  def kHopReachability(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"kHopReachability: maxHops must be ≥ 1, got $maxHops")
    val bc0 = Eager.broadcastSnapshot(edges.sparkSession)
    val (e, eRel) = Eager.tracked(edges.select("src", "dst").distinct())
    val (seed0, relSeed) = Eager.tracked(seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)))
    // `dist` stays a LAZY union over the per-round CHECKPOINTED
    // frontiers (round 11): every source is an RDD scan, so the
    // anti-join re-reads blocks, never recomputes — the former
    // per-round dist checkpoint paid one extra job per hop purely to
    // flatten a union of already-materialized frames. One terminal
    // checkpoint flattens it at the end and releases every round's
    // blocks.
    var dist = seed0
    var rels: List[() => Unit] = List(relSeed)
    var frontier = seed0.select("node")
    var hop = 1
    var done = false
    while (hop <= maxHops && !done) {
      val (discovered, relDisc) = Eager.tracked(
        e.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(dist.select("node"), Seq("node"), "left_anti"))
      if (discovered.isEmpty) { relDisc(); done = true }
      else {
        dist = dist.unionByName(
          discovered.withColumn("dist", lit(hop.toLong)))
        frontier = discovered.select("node")
        rels = relDisc :: rels
        hop += 1
      }
    }
    val out = Eager.terminalReleasing(dist, (eRel :: rels): _*)
    Eager.releaseBroadcastsSince(edges.sparkSession, bc0)
    out
  }
}
