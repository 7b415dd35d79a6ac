package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SortKeys

/** Grouped forward/backward fill (SURVEY.md §2.7 W1/W2 — the reference's
  * only true window computation; /root/reference/data_pipeline/tasks/
  * transformation.py:206-218).
  *
  * The eager two-pass pandas `groupby().ffill()` / `.bfill()` becomes two
  * RUNNING windows over ONE window partitioning: Spark plans a single
  * shuffle on the partition keys, sorts each partition by the order
  * keys for the forward pass and by the mirrored keys for the backward
  * pass, and evaluates every filled column's frame of one direction in
  * the same WindowExec — one exchange regardless of how many columns
  * are filled.
  *
  * No frame here ends at UNBOUNDED FOLLOWING. Spark evaluates a
  * `currentRow..unboundedFollowing` frame by re-aggregating the rest of
  * the group for every row, O(n²) per group (a 5,000-bar symbol costs
  * ~12.5 M row visits), while an `unboundedPreceding..currentRow` frame
  * is one incremental pass. So "first non-null at or after" is computed
  * as "last non-null at or before" over the mirrored order
  * ([[bfill]]); PlanLintSpec fails any plan that brings the quadratic
  * frame back.
  */
object Fill {

  /** W1 — per-group forward fill: last non-null value at or before the
    * current row (transformation.py:213).
    */
  def ffill(partitionBy: Seq[Column], orderBy: Seq[Column])(c: Column): Column =
    last(c, ignoreNulls = true).over(
      Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** W2 — per-group backward fill: first non-null value at or after the
    * current row (transformation.py:215), evaluated as "last non-null at
    * or before" over the mirrored order (every key reversed, asc nulls
    * first ↔ desc nulls last), so it is a running frame too. The frame
    * is a RANGE frame, so it takes in the row's whole tie group: a
    * ROWS frame would miss a tied peer that the sort, stable in both
    * directions, keeps behind the row, and ffill-then-bfill could then
    * leave a null that no row order gives. Equal to the
    * `first(c, ignoreNulls) over currentRow..unboundedFollowing` form
    * whenever `orderBy` is a total order within each group.
    */
  def bfill(partitionBy: Seq[Column], orderBy: Seq[Column])(c: Column): Column =
    last(c, ignoreNulls = true).over(
      Window.partitionBy(partitionBy: _*).orderBy(orderBy.map(SortKeys.reverse): _*)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow))

  /** ffill-then-bfill (the reference's exact order: transformation.py:
    * 213-215): mid-series nulls take the previous value, leading nulls take
    * the first following value, all-null groups stay null (and are dropped
    * by the caller's na.drop — P5).
    */
  def ffillBfill(partitionBy: Seq[Column], orderBy: Seq[Column])(c: Column): Column =
    coalesce(ffill(partitionBy, orderBy)(c), bfill(partitionBy, orderBy)(c))

  /** Apply [[ffillBfill]] to several columns in place. All columns go
    * into ONE projection, so every forward frame shares one WindowExec
    * and every backward frame another: two sorts for any number of
    * columns (a projection per column would alternate the two orders
    * and sort twice per column).
    */
  def fillColumns(
      df: DataFrame,
      partitionBy: Seq[Column],
      orderBy: Seq[Column],
      cols: Seq[String]): DataFrame =
    df.withColumns(cols.map(name =>
      name -> ffillBfill(partitionBy, orderBy)(col(name))).toMap)

  /** W1+ — calendar-spine gap filling: materialize EVERY hour between a
    * group's first and last observation, left-join the observed hourly
    * aggregate onto that spine, and forward-fill the holes — the step
    * before resampling/interpolation can even run when whole buckets are
    * missing (ffill/bfill only patch null VALUES on existing rows; a
    * missing ROW needs a spine).
    *
    * Plan shape at 100 TB: the spine is generated DISTRIBUTED — one row
    * per group from the bounds aggregate, then `sequence()` + `explode`
    * fan out per-group on executors (no driver-side calendar, no
    * cross-join against a global spine table). Both the bounds aggregate
    * and the spine↔observed join hash-partition on the group key, and
    * the final ffill window reuses that partitioning — two exchanges
    * total regardless of calendar span. Spine width per group is bounded
    * by the group's own time span, so skew follows the data, not the
    * calendar.
    */
  def gapFillHourly(df: DataFrame, key: Column, ts: Column,
      value: Column): DataFrame = {
    val hourly = df
      .groupBy(key.as("key"), date_trunc("hour", ts).as("h"))
      .agg((round(sum(value.cast("decimal(30,10)")).cast("double") /
        count(value).cast("double"), 9)).as("v_obs"))
    val spine = hourly.groupBy("key")
      .agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
      .select(col("key"),
        explode(sequence(col("mn"), col("mx"),
          expr("INTERVAL 1 HOUR"))).as("h"))
    val w = Window.partitionBy("key").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("key", "h"), "left")
      .withColumn("is_gap", col("v_obs").isNull)
      .withColumn("v_filled", last(col("v_obs"), ignoreNulls = true).over(w))
  }

  /** W1/W2+ — grouped LINEAR interpolation in time (pandas
    * `interpolate(method="time")`, the step up from ffill/bfill for bar
    * data): an interior null takes the time-weighted blend of its
    * nearest non-null neighbors,
    * v = v_prev + (v_next − v_prev) · (t − t_prev)/(t_next − t_prev);
    * leading nulls backward-fill, trailing nulls forward-fill.
    *
    * Plan shape: FOUR window projections (prev/next value and the
    * timestamps they occurred at) over the SAME partitioning — one
    * exchange, two sorts (order and mirrored order), two running
    * WindowExecs, no self-joins. `timeMicros`
    * must be an integral epoch column (exact on both engines; a
    * timestamp→double cast would round differently at the µs digit).
    * The blend is a fixed IEEE double op sequence on exact integer
    * deltas — bit-identical in any engine that evaluates the same
    * parenthesization, which is what the oracle SQL mirrors.
    */
  def interpolateLinear(partitionBy: Seq[Column], orderBy: Seq[Column])(
      value: Column, timeMicros: Column): Column = {
    val valueTime = when(value.isNotNull, timeMicros)
    val prevV = ffill(partitionBy, orderBy)(value)
    val prevT = ffill(partitionBy, orderBy)(valueTime)
    val nextV = bfill(partitionBy, orderBy)(value)
    val nextT = bfill(partitionBy, orderBy)(valueTime)
    when(value.isNotNull, value)
      .when(prevV.isNull, nextV) // leading nulls → bfill
      .when(nextV.isNull, prevV) // trailing nulls → ffill
      // degenerate zero-gap guard is unreachable when (orderBy) is a
      // total order containing the time column, but 0/0 must not leak
      .when(nextT === prevT, prevV)
      .otherwise(prevV +
        (nextV - prevV) *
          ((timeMicros - prevT).cast("double") / (nextT - prevT).cast("double")))
  }
}
