package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation / window / ordering operators (SURVEY.md §2.6-2.8) plus the
  * north-star time-series extensions (candle resampling A6, as-of join J5,
  * lag returns W3).
  *
  * Numeric policy for oracle-compared sums: doubles are cast to
  * DECIMAL before SUM so partial/final aggregation order (which differs
  * between Spark's distributed partial aggregates and DuckDB's
  * single-node sum) cannot perturb the result — decimal addition is
  * exact and associative.
  */
object Analytics {

  /** Exact, order-insensitive sum of a double column. */
  def exactSum(c: Column): Column = sum(c.cast("decimal(30,10)"))

  /** A3 — per-column null-percentage profile (transformation.py:240-260):
    * one aggregate row, `round(avg(isnull)*100, 2)` per column.
    */
  def nullProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      cols.map(c =>
        round(avg(col(c).isNull.cast("double")) * 100, 2).as(s"${c}_null_pct")): _*)

  /** A4 — duplicate-detection profile (`data.duplicated()`,
    * transformation.py:250-251): groups occurring more than once.
    */
  def dupProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(col): _*).count().filter(col("count") > 1)

  /** A6 — candle resampling: per key, per time bucket OHLC + volume.
    * first/last are made deterministic via min_by/max_by over a
    * (ts, tiebreak) struct — no second window pass needed, stays a single
    * partial+final hash aggregate (map-side combine at scale).
    */
  def candles(
      df: DataFrame,
      key: Column,
      ts: Column,
      tiebreak: Column,
      price: Column,
      bucket: Column): DataFrame =
    df.groupBy(key.as("key"), bucket.as("bucket"))
      .agg(
        min_by(price, struct(ts, tiebreak)).as("open"),
        max(price).as("high"),
        min(price).as("low"),
        max_by(price, struct(ts, tiebreak)).as("close"),
        exactSum(price).cast("double").as("vsum"),
        count(lit(1)).as("n"))

  /** O3 — source-side top-k (newest-N; extraction.py:115-119): plans as
    * TakeOrderedAndProject — each partition keeps only k rows, the driver
    * merges k·partitions rows, so no global sort at scale.
    */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** W3 — per-key lag-based change: previous value and delta over an
    * ordered window.
    */
  def lagDelta(
      df: DataFrame,
      partitionBy: Seq[Column],
      orderBy: Seq[Column],
      value: Column): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    df.withColumn("prev_value", lag(value, 1).over(w))
      .withColumn("delta", value - col("prev_value"))
  }

  /** Sessionization: assign a session id per key from inactivity gaps —
    * lag + cumulative sum of gap indicators in one window partitioning.
    */
  def sessionize(
      df: DataFrame,
      partitionBy: Seq[Column],
      ts: Column,
      tiebreak: Column,
      gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(ts, tiebreak)
    val prevTs = lag(ts, 1).over(w)
    // gap measured in microseconds (µs is the native timestamp precision;
    // second-floored arithmetic would disagree with the DuckDB oracle)
    val isNew = when(
      prevTs.isNull ||
        unix_micros(ts) - unix_micros(prevTs) > gapSeconds * 1000000L, 1L)
      .otherwise(0L)
    df.withColumn("session_id",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** J5 — as-of join, union-window emulation: for each `probe` row, the
    * latest `quote` row with the same key and quote.ts <= probe.ts.
    *
    * Implemented as union → single window sort → filter instead of a range
    * join: cost is ONE shuffle on the key (same as the join would need)
    * and no quadratic range-probe blowup, so it scales to 100 TB the same
    * way a sort-merge join does.
    *
    * @param probe   rows to enrich; must contain keyCol and tsCol
    * @param quote   rows providing values; must contain keyCol and tsCol
    * @param valueCols columns of `quote` to carry (filled as-of)
    */
  def asOfJoin(
      probe: DataFrame,
      quote: DataFrame,
      keyCol: String,
      tsCol: String,
      tiebreakCol: String,
      valueCols: Seq[String]): DataFrame = {
    require(valueCols.forall(v => !probe.columns.contains(v)),
      "probe and quote value columns must be disjoint")
    val pCols = probe.columns
    val q = quote.select(
      (Seq(col(keyCol), col(tsCol), col(tiebreakCol), lit(0).as("__side")) ++
        valueCols.map(col)): _*)
    val p = probe.withColumn("__side", lit(1))
    val unioned = q.unionByName(p, allowMissingColumns = true)
    // quote rows sort before probe rows at equal ts (side 0 < 1), so a
    // quote exactly at probe.ts is visible to it.
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("__side"), col(tiebreakCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = valueCols.foldLeft(unioned) { (d, v) =>
      d.withColumn(v, last(when(col("__side") === 0, col(v)), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 1).select(pCols.map(col) ++ valueCols.map(col): _*)
  }

  /** Directional as-of join — [[asOfJoin]] generalized to the three
    * standard directions (pandas `merge_asof`): for each probe row take
    * the nearest quote with the same key that is
    *   - `"backward"`: at or before probe.ts (== [[asOfJoin]]),
    *   - `"forward"`:  at or after probe.ts,
    *   - `"nearest"`:  either side, smaller |Δts| wins, ties backward,
    * optionally bounded by `toleranceSeconds` (no match within the bound
    * → null-extended, like merge_asof's `tolerance`).
    *
    * Same plan shape as [[asOfJoin]]: union → ONE shuffle on the
    * key → running window frames over that partitioning (backward
    * candidate via [[Fill.ffill]], forward candidate via [[Fill.bfill]]
    * on the mirrored order), then per-row candidate arbitration —
    * no range join, no per-probe quote scan, scales like a sort-merge
    * join. The quote's ts/tiebreak ride along in a packed struct so
    * tolerance and nearest-arbitration are pure column ops.
    *
    * Carries ONE value column (`valueCol`) plus the matched quote ts as
    * `matched_ts` — multi-value variants just add struct fields.
    */
  def asOfJoinDirectional(
      probe: DataFrame, quote: DataFrame,
      keyCol: String, tsCol: String, tiebreakCol: String,
      valueCol: String, direction: String,
      toleranceSeconds: Option[Long] = None): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"asOfJoinDirectional: unknown direction '$direction'")
    val pCols = probe.columns
    // quote payload packed as one struct: (ts, tiebreak, value) — the
    // window functions then carry candidate identity and value together
    val q = quote.select(col(keyCol), col(tsCol),
        lit(0).as("__side"),
        struct(col(tsCol).as("ts"), col(tiebreakCol).as("tb"),
          col(valueCol).as("v")).as("__q"))
    val p = probe.withColumn("__side", lit(1))
    val unioned = q.unionByName(p, allowMissingColumns = true)
    // backward: quote sorts BEFORE probe at equal ts (side 0 < 1) so an
    // exactly-simultaneous quote is visible; forward: probe sorts before
    // quote via side DESC so the same quote is visible forward too
    // __q.tb (null on probe rows, nulls-first) makes the order among
    // equal-ts quotes total: backward's fill picks the LARGEST
    // tiebreak, forward's the smallest — both deterministic
    val key = Seq(col(keyCol))
    val qOnly = when(col("__side") === 0, col("__q"))
    val withCand = unioned
      .withColumn("__b", Fill.ffill(key,
        Seq(col(tsCol), col("__side"), col("__q.tb").asc_nulls_first))(qOnly))
      .withColumn("__f", Fill.bfill(key,
        Seq(col(tsCol), col("__side").desc, col("__q.tb").asc_nulls_last))(qOnly))
      .filter(col("__side") === 1)
    val dB = unix_micros(col(tsCol)) - unix_micros(col("__b.ts"))
    val dF = unix_micros(col("__f.ts")) - unix_micros(col(tsCol))
    val tolUs = toleranceSeconds.map(s => lit(s * 1000000L))
    def within(d: org.apache.spark.sql.Column) =
      tolUs.map(t => d <= t).getOrElse(lit(true))
    val chosen = direction match {
      case "backward" => when(col("__b").isNotNull && within(dB), col("__b"))
      case "forward"  => when(col("__f").isNotNull && within(dF), col("__f"))
      case "nearest"  =>
        val bOk = col("__b").isNotNull && within(dB)
        val fOk = col("__f").isNotNull && within(dF)
        when(bOk && (!fOk || dB <= dF), col("__b"))
          .when(fOk, col("__f"))
    }
    withCand.withColumn("__m", chosen)
      .select(pCols.map(col) ++ Seq(
        col("__m.ts").as("matched_ts"), col("__m.v").as(valueCol)): _*)
  }

  /** 2-D skyline (Pareto frontier, minimize both axes): the distinct
    * points no other point dominates (x' ≤ x ∧ y' ≤ y with one strict) —
    * the multi-objective shortlist primitive ("cheapest AND smallest").
    *
    * Two-phase distributed plan, exact under ANY partitioning:
    *   1. LOCAL skyline per input partition — sort each partition by
    *      (x, y) and keep rows whose y is under the partition's running
    *      minimum (a windowed scan partitioned by `spark_partition_id`,
    *      so no global sort and no single-reducer window). A globally
    *      non-dominated point is non-dominated in its partition, so the
    *      union of local skylines is a SUPERSET of the answer.
    *   2. GLOBAL pass over the surviving candidates — same scan on one
    *      partition, correct because step 1's output is frontier-sized
    *      (bounded by the number of distinct x values), not input-sized.
    *
    * The running-min test is exact on DISTINCT points: ordered by
    * (x asc, y asc), a point is dominated iff some earlier point has
    * y' ≤ y (earlier ⇒ x' < x, or x' = x with y' < y — both strict
    * dominance). Output is the (x, y) frontier, ascending in x.
    */
  def skyline2D(df: DataFrame, x: Column, y: Column): DataFrame = {
    val pts = df.select(x.as("x"), y.as("y")).distinct()
    def pass(d: DataFrame, part: Seq[Column]): DataFrame = {
      val w = Window.partitionBy(part: _*).orderBy(col("x"), col("y"))
        .rowsBetween(Window.unboundedPreceding, -1)
      d.withColumn("__pm", min(col("y")).over(w))
        .filter(col("__pm").isNull || col("__pm") > col("y"))
        .drop("__pm")
    }
    val local = pass(pts.withColumn("__pid", spark_partition_id()),
      Seq(col("__pid"))).drop("__pid")
    pass(local, Seq.empty)
  }

  /** Fixed-width histogram: bucket = floor((x - lo) / width), clamped to
    * [0, nBuckets-1]. Pure integer/double ops — deterministic; one
    * partial+final aggregate.
    */
  def histogram(df: DataFrame, x: Column, lo: Double, width: Double, nBuckets: Int): DataFrame =
    df.select(least(greatest(floor((x - lit(lo)) / lit(width)), lit(0.0)),
        lit((nBuckets - 1).toDouble)).cast("int").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))

  /** Moment statistics with exact decimal accumulation: mean, variance,
    * and Pearson correlation computed from decimal Σx, Σx², Σxy — the
    * sums are order-independent, so the final double arithmetic is a
    * fixed op sequence on identical inputs (oracle bit-parity), unlike
    * the built-in streaming variance/corr whose merge order varies with
    * partitioning.
    */
  def momentStats(df: DataFrame, keys: Seq[Column], x: Column, y: Column): DataFrame = {
    val d = "decimal(38,12)"
    df.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        sum(x.cast(d)).as("sx"), sum(y.cast(d)).as("sy"),
        sum((x * x).cast(d)).as("sxx"), sum((y * y).cast(d)).as("syy"),
        sum((x * y).cast(d)).as("sxy"))
      // outputs rounded: decimal→double casts of >17-significant-digit
      // sums differ in the last ulp across engines (different but both
      // near-correctly-rounded conversion paths); the statistics are
      // stable far above these rounding scales
      .withColumn("mean_x",
        round(col("sx").cast("double") / col("n").cast("double"), 8))
      .withColumn("var_x", round(
        (col("sxx").cast("double") - col("sx").cast("double") *
          col("sx").cast("double") / col("n").cast("double")) /
          col("n").cast("double"), 6))
      .withColumn("corr_xy", round(
        (col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
            sqrt(col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))), 8))
      .drop("sx", "sy", "sxx", "syy", "sxy")
  }

  /** Interval join, binned-equi-join form: pairs (probe, quote) with the
    * same key and quote.ts ∈ [probe.ts, probe.ts + windowSeconds).
    *
    * Instead of a raw range join (nested-loop or range-probe — quadratic
    * on hot keys), each probe row is exploded to the 1-2 coarse time
    * bins its window overlaps and the join becomes an EQUI-join on
    * (key, bin) followed by an exact range filter. At 100 TB this
    * shuffles on (key, bin) like any hash join; bin width = window width
    * bounds the fan-out at 2×.
    */
  def intervalJoinBinned(
      probe: DataFrame, quote: DataFrame,
      keyCol: String, tsCol: String, windowSeconds: Long): DataFrame = {
    val binUs = windowSeconds * 1000000L
    val p = probe
      .withColumn("__bin0", (unix_micros(col(tsCol)) / binUs).cast("long"))
      .withColumn("__bin", explode(array(col("__bin0"), col("__bin0") + 1)))
      .drop("__bin0")
    val q = quote.columns.foldLeft(quote) { (d, c) =>
      d.withColumnRenamed(c, s"q_$c")
    }.withColumn("__bin", (unix_micros(col(s"q_$tsCol")) / binUs).cast("long"))
    p.join(q, p("__bin") === q("__bin") && p.col(keyCol) === q(s"q_$keyCol"))
      .filter(col(s"q_$tsCol") >= col(tsCol) &&
        unix_micros(col(s"q_$tsCol")) < unix_micros(col(tsCol)) + binUs)
      .drop("__bin")
  }

  /** SMA crossover signal — the reference's DOMAIN capstone (stock
    * signals from bar series; its model consumes exactly this feature
    * family): short/long simple moving averages per key over trailing
    * row frames, `signal` = short above long, `crossed` = the signal
    * flipped versus the previous row (the classic golden/death cross).
    *
    * Plan: every column — two frame sums, two counts, one lag — shares
    * ONE window partitioning/ordering, so the data is sorted and
    * exchanged once; Spark stacks one WindowExec per distinct frame
    * over that single sort (verified in docs/PLANS_r5.txt). Means are
    * exact decimal sums with one double division, rounded to 9 (oracle
    * parity). Rows earlier than `longN − 1` in their partition average
    * over what exists (pandas `rolling(min_periods=1)` semantics).
    *
    * Returns the input keys/order plus (sma_short, sma_long, signal,
    * crossed); `crossed` is NULL on each partition's first row.
    */
  /** Lag-k autocorrelation per key — serial dependence of an ordered
    * series (mean-reversion vs momentum diagnostics next to [[rsi]] /
    * [[smaCrossover]]). One lag window over the shared (partition,
    * order) sort produces (v, v₋ₖ) pairs; [[momentStats]]'s exact
    * decimal-moment correlation finishes per key. Rows without a lag
    * (first k of each partition) are excluded from the pair set.
    */
  def autocorr(
      df: DataFrame, partitionBy: Seq[Column], orderBy: Seq[Column],
      value: Column, lagK: Int): DataFrame = {
    require(lagK > 0, s"autocorr: lag must be positive, got $lagK")
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    val pairs = df
      .withColumn("__v", value)
      .withColumn("__vl", lag(value, lagK).over(w))
      .filter(col("__vl").isNotNull)
    momentStats(pairs, partitionBy, col("__v"), col("__vl"))
      .withColumnRenamed("corr_xy", "autocorr")
      .drop("mean_x", "var_x")
  }

  /** Cohort retention — users grouped by first-activity bucket (their
    * cohort), counted by activity-bucket offset from it: the classic
    * retention triangle. Two aggregates: per-user first bucket (one
    * shuffle on user), then distinct-user counts per (cohort, offset) —
    * the first-bucket frame joins back to the user's activity rows on
    * the SAME user key, so AQE plans it as a co-partitioned join; the
    * second aggregate's key space is tiny (cohorts × offsets).
    */
  def cohortRetention(
      df: DataFrame, user: Column, bucket: Column): DataFrame = {
    val acts = df.select(user.as("user"), bucket.as("b")).distinct()
    val first = acts.groupBy("user").agg(min(col("b")).as("cohort"))
    acts.join(first, Seq("user"))
      .groupBy(col("cohort"),
        datediff(col("b"), col("cohort")).as("day_offset"))
      .agg(countDistinct(col("user")).as("n_users"))
  }

  /** Ordered funnel — per user, how many funnel stages were completed IN
    * ORDER: stage k counts only at/after the time stages 0..k−1 were
    * already chained. Layer i adds a running conditional min
    * __t(i) = earliest ts of a stage-i row whose own running __t(i−1)
    * was already set (so ordering is enforced row-locally, equal
    * timestamps resolved by the tiebreak order). All layers share ONE
    * (user, ts, tiebreak) window sort — Spark stacks WindowExecs over a
    * single exchange, no joins; the final depth is a per-user max of a
    * deepest-first CASE over the chain columns.
    *
    * Returns (user, reached) with reached ∈ [0, stages.length].
    */
  def funnelStages(
      df: DataFrame, user: Column, ts: Column, tiebreak: Column,
      stage: Column, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnelStages: stages must be non-empty")
    val w = Window.partitionBy(col("user")).orderBy(col("ts"), col("tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = df.select(user.as("user"), ts.as("ts"), tiebreak.as("tb"),
      stage.as("stage"))
    val withT = stages.zipWithIndex.foldLeft(base) { case (d, (s, i)) =>
      val cond =
        if (i == 0) col("stage") === s
        else col("stage") === s && col(s"__t${i - 1}").isNotNull &&
          col("ts") >= col(s"__t${i - 1}")
      d.withColumn(s"__t$i", min(when(cond, col("ts"))).over(w))
    }
    // deepest stage checked first (chain is monotone: t_i set ⇒ t_{i-1} set)
    val depth = stages.indices.foldLeft(lit(0)) { (acc, i) =>
      when(col(s"__t$i").isNotNull, lit(i + 1)).otherwise(acc)
    }
    withT.groupBy("user").agg(max(depth).as("reached"))
  }

  /** VWAP — volume-weighted average price per group: Σ(p·v)/Σ(v) with
    * exact decimal accumulation (order-independent partials), one double
    * division at the end, then truncated to 6 decimals via floor(x·10⁶)/10⁶.
    *
    * Two deliberate deviations from the usual round(…, 9) policy, both
    * forced by price·qty sums reaching 10⁷:
    * - scale 4, not 10: a decimal(_,10) sum of 10⁷ scales to 10¹⁷ > 2⁵³,
    *   where DuckDB's int128→double conversion double-rounds and lands
    *   1 ulp off Spark's correctly-rounded BigDecimal path; at scale 4
    *   the scaled sums stay exactly double-representable, so both
    *   engines divide the SAME two doubles (products have ≤2 true
    *   decimals — scale 4 absorbs their float error without ties).
    * - floor, not round(): integer-ish volume sums make quotients land
    *   exactly on decimal/binary boundaries (…0625 = 1/16), i.e.
    *   systematic round-half ties where Spark's BigDecimal HALF_UP and
    *   DuckDB's float-path round() disagree; floor of the identical
    *   shared double is a single IEEE op with no tie semantics.
    *
    * ONE partial/final hash aggregate — map-side combine collapses each
    * group before the exchange, so at 100 TB the shuffle carries one row
    * per (key, bucket).
    */
  def vwap(df: DataFrame, keys: Seq[Column], price: Column, qty: Column): DataFrame =
    df.groupBy(keys: _*)
      .agg(
        (floor((sum((price * qty).cast("decimal(30,4)")).cast("double") /
          sum(qty.cast("decimal(30,4)")).cast("double")) * lit(1e6)) / lit(1e6))
          .as("vwap"),
        sum(qty.cast("decimal(30,4)")).cast("double").as("vol"),
        count(lit(1)).as("n"))

  /** Running-max drawdown per key — peak-to-current decline fraction,
    * the risk statistic next to [[smaCrossover]] in the signal family.
    * One cumulative-max window over the shared (partition, order) sort —
    * a single exchange, no second pass.
    */
  def drawdown(
      df: DataFrame, partitionBy: Seq[Column], orderBy: Seq[Column],
      value: Column): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("run_max", max(value).over(w))
      .withColumn("drawdown_pct",
        round((col("run_max") - value) / col("run_max"), 9))
  }

  /** Simple RSI (n-period, plain-average form): split the lag-delta into
    * gain/loss legs, average each over a trailing n-row frame with exact
    * decimal sums, RSI = 100 − 100/(1+RS). The first row of each
    * partition (no delta) yields NULL; a window whose losses are all
    * zero yields 100 (the standard convention). Two window layers — the
    * lag, then the frame sums — share one (partition, order) spec, so
    * Spark sorts and exchanges ONCE and stacks WindowExecs.
    */
  def rsi(
      df: DataFrame, partitionBy: Seq[Column], orderBy: Seq[Column],
      value: Column, n: Int): DataFrame = {
    require(n > 1, s"rsi: period must exceed 1, got $n")
    val ordered = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    val frame = ordered.rowsBetween(-(n - 1), Window.currentRow)
    val delta = value - lag(value, 1).over(ordered)
    val withGL = df
      .withColumn("__gain", when(delta.isNull, lit(null).cast("double"))
        .otherwise(greatest(delta, lit(0.0))))
      .withColumn("__loss", when(delta.isNull, lit(null).cast("double"))
        .otherwise(greatest(-delta, lit(0.0))))
    def avg(c: Column): Column =
      sum(c.cast("decimal(30,10)")).over(frame).cast("double") /
        count(c).over(frame).cast("double")
    val avgGain = avg(col("__gain"))
    val avgLoss = avg(col("__loss"))
    withGL
      .withColumn("rsi", round(
        when(avgLoss === 0.0, lit(100.0))
          .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + avgGain / avgLoss)), 9))
      .drop("__gain", "__loss")
  }

  /** Bollinger bands: trailing n-row mean ± k·σ (population σ from exact
    * decimal Σx, Σx² — the [[momentStats]] determinism pattern applied
    * inside a window frame) plus a breakout classification. All three
    * frame aggregates share one window sort; the double op sequence
    * (div, mul, sub, sqrt — each IEEE correctly-rounded) is mirrored
    * verbatim in the oracle, so band edges are bit-identical and the
    * unrounded breakout comparison cannot flap.
    */
  def bollinger(
      df: DataFrame, partitionBy: Seq[Column], orderBy: Seq[Column],
      value: Column, n: Int, k: Double): DataFrame = {
    val frame = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
      .rowsBetween(-(n - 1), Window.currentRow)
    val cnt = count(lit(1)).over(frame).cast("double")
    val sx = sum(value.cast("decimal(30,10)")).over(frame).cast("double")
    val sxx = sum((value * value).cast("decimal(30,10)")).over(frame).cast("double")
    val mean = sx / cnt
    val sd = sqrt(greatest(sxx / cnt - (sx / cnt) * (sx / cnt), lit(0.0)))
    df.withColumn("sma", round(mean, 9))
      .withColumn("upper", round(mean + lit(k) * sd, 9))
      .withColumn("lower", round(mean - lit(k) * sd, 9))
      .withColumn("breakout",
        when(value > mean + lit(k) * sd, lit("up"))
          .when(value < mean - lit(k) * sd, lit("down"))
          .otherwise(lit("none")))
  }

  /** Time-weighted average price — the [[vwap]] sibling where the weight
    * is HOLDING TIME, not volume: each observation counts for the seconds
    * until the next one in its partition (the last observation of a
    * partition has no successor and carries zero weight — the standard
    * open-interval TWAP convention). Time deltas are integral epoch
    * SECONDS (truncated identically by both engines; a fractional-second
    * delta would reintroduce float noise for no analytical gain at TWAP
    * granularity).
    *
    * Plan shape: one lead() window over the (partition, time) sort, then
    * one partial/final aggregate on the same partition keys — Spark
    * reuses the window's hash partitioning for the aggregate, so the
    * whole operator is a single exchange. The numeric policy is
    * [[vwap]]'s verbatim: decimal(30,4) exact sums (value·dt stays well
    * under 2^53 at scale 4 for day-bounded partitions), one shared
    * double division, floor to 6 decimals.
    */
  def twap(df: DataFrame, partitionBy: Seq[Column], ts: Column,
      tiebreak: Seq[Column], value: Column): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*)
      .orderBy((ts +: tiebreak): _*)
    val sec = floor(unix_micros(ts) / lit(1000000L)).cast("long")
    val dt = (lead(sec, 1).over(w) - sec).cast("long")
    val num = sum((value * col("__dt")).cast("decimal(30,4)")).cast("double")
    val den = sum(col("__dt").cast("decimal(30,4)")).cast("double")
    df.withColumn("__dt", dt)
      .groupBy(partitionBy.map(c => c): _*)
      .agg(
        // den = 0 (all observations in one second) and den = null (a
        // single observation) both mean "no holding time" → null, not
        // the NaN that 0/0 would hand the comparator
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(floor((num / den) * lit(1e6)) / lit(1e6))
          .as("twap"),
        sum(col("__dt")).as("span_secs"),
        count(lit(1)).as("n_obs"))
  }

  /** Rolling z-score anomaly flag — the streaming-friendly outlier
    * detector next to [[bollinger]]: z = (x − μ)/σ over a trailing
    * n-row frame (population σ from exact decimal Σx, Σx², the shared
    * determinism pattern), null until the frame is full (a warm-up
    * z-score against 3 points is noise, not signal) and null when the
    * window is constant (σ = 0). The flag compares the UNROUNDED z
    * against k with the identical IEEE op sequence mirrored in the
    * oracle. One window sort, three frame aggregates in one WindowExec.
    */
  def rollingZscore(
      df: DataFrame, partitionBy: Seq[Column], orderBy: Seq[Column],
      value: Column, n: Int, k: Double): DataFrame = {
    require(n > 1, s"rollingZscore: frame must exceed 1 row, got $n")
    val frame = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
      .rowsBetween(-(n - 1), Window.currentRow)
    val cnt = count(lit(1)).over(frame).cast("double")
    val sx = sum(value.cast("decimal(30,10)")).over(frame).cast("double")
    val sxx = sum((value * value).cast("decimal(30,10)")).over(frame).cast("double")
    val mean = sx / cnt
    val sd = sqrt(greatest(sxx / cnt - (sx / cnt) * (sx / cnt), lit(0.0)))
    val z = when(cnt < n || sd === 0.0, lit(null).cast("double"))
      .otherwise((value - mean) / sd)
    df.withColumn("zscore", round(z, 9))
      .withColumn("is_anomaly",
        when(z.isNull, lit(false)).otherwise(abs(z) > lit(k)))
  }

  /** Market-basket pair mining — support / confidence / lift for every
    * co-occurring item pair (Agrawal-Srikant association-rule measures,
    * public): n_ab baskets contain both, support = n_ab/N,
    * confidence(a→b) = n_ab/n_a, lift = n_ab·N/(n_a·n_b). Pairs are
    * ordered (a → b and b → a both emitted — confidence is directional).
    *
    * Plan shape at 100 TB: one distinct on (basket, item) bounds
    * everything downstream; the within-basket self-join fans out
    * quadratically ONLY in basket size (items per basket, inherently
    * small — the analogue of the LSH-bucket bound), never in corpus
    * size. The item-marginal table is |items| rows — broadcast to both
    * its consumers; the basket total is a one-row broadcast.
    */
  def marketBasket(df: DataFrame, basket: Column, item: Column): DataFrame = {
    val bi = df.select(basket.as("b"), item.as("i")).distinct()
    val totals = bi.agg(countDistinct(col("b")).as("n_baskets"))
    val marginals = bi.groupBy(col("i")).agg(count(lit(1)).as("n_i"))
    val pairs = bi.join(bi.select(col("b"), col("i").as("j")), Seq("b"))
      .filter(col("i") =!= col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marginals.select(col("i"), col("n_i").as("n_a"))), Seq("i"))
      .join(broadcast(marginals.select(col("i").as("j"), col("n_i").as("n_b"))), Seq("j"))
      .crossJoin(broadcast(totals))
      .select(col("i").as("item_a"), col("j").as("item_b"),
        col("n_ab"), col("n_a"), col("n_b"),
        round(col("n_ab").cast("double") / col("n_baskets").cast("double"), 9)
          .as("support"),
        round(col("n_ab").cast("double") / col("n_a").cast("double"), 9)
          .as("confidence"),
        round((col("n_ab").cast("double") * col("n_baskets").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")), 9)
          .as("lift"))
  }

  /** Last-touch attribution with a lookback window — for every
    * conversion event, the same user's most recent touch event at or
    * before it, provided it falls within `lookbackSec` (outside the
    * lookback the conversion reports as unattributed: NULL touch).
    *
    * One cumulative window over the (user, time) sort carries the last
    * touch's id and timestamp forward (two `last(…, ignoreNulls)`
    * columns that null on non-touch rows, so both always come from the
    * SAME touch row); the lookback is a post-filter on the integral
    * epoch-second delta — deterministic where a seconds-range frame
    * with a tie-prone single order key would not be. Filtering to
    * conversions happens AFTER the window (the window must see touch
    * rows), but the window adds no exchange beyond the per-user hash
    * partition every per-user timeline op shares.
    */
  def lastTouchAttribution(df: DataFrame, user: Column, ts: Column,
      tiebreak: Seq[Column], eventId: Column, eventType: Column,
      touchType: String, convType: String, lookbackSec: Long): DataFrame = {
    // frame ends at the PREVIOUS row: a conversion must never attribute
    // to itself, which the current-row frame would silently do whenever
    // touchType == convType (repeat-purchase attribution); for distinct
    // types the two frames are equivalent, since a conversion row
    // contributes no touch values
    val w = Window.partitionBy("u").orderBy((col("t") +: tiebreak): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val sec = floor(unix_micros(col("t")) / lit(1000000L)).cast("long")
    val isTouch = col("et") === touchType
    val base = df.select(Seq(user.as("u"), ts.as("t"), eventId.as("eid"),
      eventType.as("et")) ++ tiebreak: _*)
    val secsSince = sec -
      last(when(isTouch, sec), ignoreNulls = true).over(w)
    base
      .withColumn("touch_eid",
        last(when(isTouch, col("eid")), ignoreNulls = true).over(w))
      .withColumn("touch_secs", secsSince)
      .filter(col("et") === convType)
      .select(col("eid").as("conv_event_id"), col("u").as("user_id"),
        col("t").as("conv_ts"),
        when(col("touch_secs") <= lookbackSec, col("touch_eid"))
          .as("touch_event_id"),
        when(col("touch_secs") <= lookbackSec, col("touch_secs"))
          .as("secs_since_touch"))
  }

  /** First-order Markov transition matrix over an ordered event stream:
    * count and probability of each (state → next state) step within a
    * key's timeline. One lead() window (per-key sort), one aggregate on
    * the transition pair, and a per-source-state normalization computed
    * as a window over the TRANSITION MATRIX — |states|² rows, trivial
    * whatever the corpus size.
    */
  def transitions(df: DataFrame, key: Column, orderBy: Seq[Column],
      state: Column): DataFrame = {
    val w = Window.partitionBy("k").orderBy(orderBy: _*)
    val steps = df.select(Seq(key.as("k"), state.as("s")) ++ orderBy: _*)
      .withColumn("s_next", lead(col("s"), 1).over(w))
      .filter(col("s_next").isNotNull)
    val matrix = steps.groupBy(col("s").as("from_state"),
      col("s_next").as("to_state")).agg(count(lit(1)).as("n"))
    matrix.withColumn("prob",
      round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("from_state")).cast("double"), 9))
  }

  def smaCrossover(
      df: DataFrame, partitionBy: Seq[Column], orderBy: Seq[Column],
      value: Column, shortN: Int, longN: Int): DataFrame = {
    require(0 < shortN && shortN < longN,
      s"smaCrossover: need 0 < shortN < longN, got $shortN, $longN")
    def frame(n: Int) = Window.partitionBy(partitionBy: _*)
      .orderBy(orderBy: _*).rowsBetween(-(n - 1), Window.currentRow)
    def sma(n: Int): Column =
      round(sum(value.cast("decimal(30,10)")).over(frame(n)).cast("double") /
        count(lit(1)).over(frame(n)).cast("double"), 9)
    val ordered = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    df.withColumn("sma_short", sma(shortN))
      .withColumn("sma_long", sma(longN))
      .withColumn("signal", col("sma_short") > col("sma_long"))
      .withColumn("crossed",
        when(lag(col("signal"), 1).over(ordered).isNull, lit(null).cast("boolean"))
          .otherwise(col("signal") =!= lag(col("signal"), 1).over(ordered)))
  }

  /** Top event paths — the frequency table of each user's first
    * `maxSteps` event types in time order ("click>view>purchase"), the
    * navigation-pattern rollup next to [[funnel]]'s fixed-order check.
    * One window (rank within the per-user sort every timeline op
    * shares), one per-user aggregate whose path string is assembled by
    * sorting the ≤ maxSteps collected (rank, step) structs INSIDE the
    * row — collect_list order is partition-dependent, the in-row sort
    * makes it not matter — and one count on the path. Top-k via
    * orderBy+limit = TakeOrderedAndProject (per-partition heaps, no
    * global sort materialization).
    *
    * Returns (path, n_users), the k most common, ties to the smaller
    * path string.
    */
  def topPaths(df: DataFrame, user: Column, ts: Column,
      tiebreak: Seq[Column], step: Column, maxSteps: Int,
      k: Int): DataFrame = {
    require(maxSteps >= 1 && k >= 1,
      s"topPaths: maxSteps and k must be ≥ 1, got $maxSteps, $k")
    val w = Window.partitionBy("u").orderBy((col("t") +: tiebreak): _*)
    df.select(Seq(user.as("u"), ts.as("t"), step.as("s")) ++ tiebreak: _*)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxSteps)
      .groupBy("u")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("s")))),
        _.getField("s")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(k)
  }

  /** Per-group exponentially weighted moving average in the ADJUSTED
    * (ratio) form: ewma = Σᵢ (1−α)^(n−i)·xᵢ / Σᵢ (1−α)^(n−i) over each
    * group's time-ordered values — algebraically identical to the
    * recursive definition with bias correction, but expressible as two
    * plain sums, so it needs NO sequential scan: one rank window and one
    * aggregate, same shuffle shape as every grouped rollup here (the
    * recursive form would serialize per-group and an SQL oracle could
    * not replay it at all). Each term is a fixed double op sequence
    * (pow with an integer exponent, one multiply); the sums are exact
    * decimal, the final division one double op, rounded to 6.
    *
    * Returns (group..., n, ewma).
    */
  def ewma(df: DataFrame, groups: Seq[Column], ts: Column,
      tiebreak: Seq[Column], value: Column, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"ewma: alpha must be in (0,1), got $alpha")
    val ordered = Window.partitionBy(groups: _*).orderBy((ts +: tiebreak): _*)
    val whole = Window.partitionBy(groups: _*)
    df.withColumn("__rn", row_number().over(ordered))
      .withColumn("__n", count(lit(1)).over(whole))
      .withColumn("__w",
        pow(lit(1.0 - alpha), (col("__n") - col("__rn")).cast("double")))
      .groupBy(groups: _*)
      .agg(count(lit(1)).as("n"),
        round(
          sum((col("__w") * value).cast("decimal(38,12)")).cast("double") /
          sum(col("__w").cast("decimal(38,12)")).cast("double"), 6).as("ewma"))
  }

  /** Two-variant A/B conversion test — per-variant unit counts,
    * conversion counts/rates, and the pooled two-proportion z statistic.
    * Two aggregates: units collapse to (unit, variant, converted-ever)
    * rows — map-side combined, so the exchange carries one row per unit
    * — then the variant rollup is two rows reduced to one via
    * min_by/max_by (variant label order picks sides deterministically).
    * The z is one fixed double op sequence off exact integer counts,
    * rounded to 6 — the oracle replays it term for term. Degenerate
    * pools (p = 0 or 1: zero variance) report NULL z rather than a
    * division-by-zero NaN. `n_variants` is carried so a caller joining
    * a >2-arm experiment sees the contract violation instead of a
    * silent min/max-arm comparison.
    *
    * Counting semantics: a unit is counted PER (unit, variant) — a unit
    * exposed to both arms (assignment leakage) contributes one row to
    * EACH arm's n/conv rather than being dropped. `n_contaminated`
    * carries the count of such units so callers can detect leakage and
    * decide (an intent-to-treat analysis keeps them; a purist rerun
    * filters them upstream). Empty input yields ZERO rows, not an
    * all-null aggregate row.
    *
    * Returns ≤ one row: (va, vb, n_variants, n_contaminated, n_a,
    * conv_a, rate_a, n_b, conv_b, rate_b, z).
    */
  def abTest(df: DataFrame, unit: Column, variant: Column,
      converted: Column): DataFrame = {
    // the (unit, variant)-unique rollup feeds BOTH the per-variant stats
    // and the contamination audit; persisted so the events scan + first
    // aggregate run ONCE (the two consumers shuffle differently — by v
    // and by u — but share this subtree), released before return via the
    // eager ≤1-row terminal
    val units = df.groupBy(unit.as("u"), variant.as("v"))
      .agg(max(when(converted, 1L).otherwise(0L)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val byV = units.groupBy("v")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("conv"))
      val d = (c: Column) => c.cast("double")
      val picked = byV.agg(
        min(col("v")).as("va"), max(col("v")).as("vb"),
        count(lit(1)).as("n_variants"),
        min_by(struct(col("n"), col("conv")), col("v")).as("sa"),
        max_by(struct(col("n"), col("conv")), col("v")).as("sb"))
      // units rows-per-unit = arms seen; one extra exchange on a
      // unit-sized frame, then a 1×1 cross join
      val contaminated = units.groupBy("u").agg(count(lit(1)).as("nv"))
        .agg(coalesce(sum(when(col("nv") > 1, 1L).otherwise(0L)), lit(0L))
          .as("n_contaminated"))
      val p1 = d(col("sa.conv")) / d(col("sa.n"))
      val p2 = d(col("sb.conv")) / d(col("sb.n"))
      val p = (d(col("sa.conv")) + d(col("sb.conv"))) /
        (d(col("sa.n")) + d(col("sb.n")))
      val z = (p1 - p2) /
        sqrt(p * (lit(1.0) - p) * (lit(1.0) / d(col("sa.n")) + lit(1.0) / d(col("sb.n"))))
      Eager.terminal(picked.crossJoin(contaminated)
        // empty input: the global aggregates still emit one (all-null,
        // n_variants=0) row; the oracle's CTE join emits none — drop it
        .filter(col("n_variants") > 0)
        .select(col("va"), col("vb"), col("n_variants"), col("n_contaminated"),
          col("sa.n").as("n_a"), col("sa.conv").as("conv_a"),
          round(p1, 6).as("rate_a"),
          col("sb.n").as("n_b"), col("sb.conv").as("conv_b"),
          round(p2, 6).as("rate_b"),
          when(p === 0.0 || p === 1.0, lit(null).cast("double"))
            .otherwise(round(z, 6)).as("z")))
    } finally { units.unpersist(); () }
  }

  /** Join fan-out audit — BEFORE running a suspect join, the per-key
    * multiplicity report that predicts its output explosion: for each
    * join key, the left count, right count, and their product (= the
    * rows that key alone will emit). Two map-side-combined aggregates +
    * one inner join of two key-sized frames, then top-k by product via
    * TakeOrderedAndProject — the diagnostic is strictly cheaper than
    * the join it audits. The companion of [[skewProfile]] (which
    * profiles ONE side's groups; this profiles the interaction).
    *
    * Returns the k keys with the largest (m_l · m_r), ties to the
    * smaller key. Bound: `fanout` is a LongType product and wraps (Spark
    * non-ANSI) past 2^63 − 1 — i.e. only when a SINGLE key carries ~3×10⁹
    * rows on EACH side, at which point the audited join is ~10¹⁹ output
    * rows and unrunnable anyway; below that the product is exact.
    */
  def joinFanoutAudit(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column, k: Int): DataFrame = {
    require(k >= 1, s"joinFanoutAudit: k must be ≥ 1, got $k")
    val lc = left.groupBy(leftKey.as("key")).agg(count(lit(1)).as("m_l"))
    val rc = right.groupBy(rightKey.as("key")).agg(count(lit(1)).as("m_r"))
    lc.join(rc, Seq("key"))
      .withColumn("fanout", col("m_l") * col("m_r"))
      .orderBy(col("fanout").desc, col("key"))
      .limit(k)
  }

  /** Key-skew profile — the distribution of per-key group sizes, the
    * diagnostic run BEFORE picking a join/agg strategy at scale (a
    * max/mean ratio ≫ 1 says "salt this key or let AQE split it"; see
    * [[saltedAggregate]] for the cure this measures the need for). Two
    * aggregates: per-key counts (map-side combined, the exchange carries
    * one row per key) then a single-row global rollup over the
    * key-sized counts frame. Percentiles over group sizes are exact
    * interpolated (`percentile` = DuckDB quantile_cont); mean is an
    * exact long sum with ONE double division at the end.
    *
    * Returns one row: (n_keys, n_rows, max_n, mean_n, p50_n, p99_n,
    * skew_ratio = max/mean rounded to 6).
    */
  def skewProfile(df: DataFrame, keys: Seq[Column]): DataFrame = {
    require(keys.nonEmpty, "skewProfile: no key columns given")
    val counts = df.groupBy(keys: _*).agg(count(lit(1)).as("n"))
    counts.agg(
        count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_n"),
        round(sum(col("n")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_n"),
        round(percentile(col("n"), lit(0.5)), 6).as("p50_n"),
        round(percentile(col("n"), lit(0.99)), 6).as("p99_n"))
      .withColumn("skew_ratio",
        round(col("max_n").cast("double") / col("mean_n"), 6))
  }

  /** Two-snapshot per-column DRIFT profile — the data-quality audit run
    * between loads (did yesterday's batch shift a distribution?): for
    * each column, row count, exact distinct count, null fraction, and
    * mean on BOTH sides plus the absolute mean shift. Complements
    * [[graft.operators.Dedup.snapshotDiff]] (row-level) with the
    * distribution-level view that catches drift row diffs can't
    * summarize (a 1% uniform price inflation changes every row but
    * only this profile says by how much).
    *
    * One `stack` unpivot per side (narrow, |cols|× fan-out in the scan
    * stage) + one aggregate per side + a |cols|-row join. Means are
    * decimal-exact sums with ONE double division, rounded 6 — the
    * engine-parity pattern used across the repo; distinct counts are
    * exact (binary64 equality matches across engines).
    */
  def driftProfile(a: DataFrame, b: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "driftProfile: at least one column required")
    def prof(df: DataFrame, side: String): DataFrame = {
      val stackExpr = cols.map(c => s"'$c', CAST($c AS DOUBLE)").mkString(", ")
      df.selectExpr(s"stack(${cols.length}, $stackExpr) AS (col_name, v)")
        .groupBy("col_name")
        .agg(count(lit(1)).as(s"n_$side"),
          count(col("v")).as("__nn"),
          countDistinct(col("v")).as(s"n_distinct_$side"),
          sum(col("v").cast("decimal(30,10)")).as("__s"))
        .select(col("col_name"), col(s"n_$side"), col(s"n_distinct_$side"),
          round((col(s"n_$side") - col("__nn")).cast("double") /
            col(s"n_$side").cast("double"), 6).as(s"null_frac_$side"),
          round(col("__s").cast("double") / col("__nn").cast("double"), 6)
            .as(s"mean_$side"))
    }
    prof(a, "a").join(prof(b, "b"), Seq("col_name"))
      .withColumn("mean_shift",
        round(abs(col("mean_a") - col("mean_b")), 6))
  }
}
