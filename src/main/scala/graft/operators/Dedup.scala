package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2.4 — the reference's signature
  * operation; /root/reference/data_pipeline/tasks/transformation.py:47-49,
  * 108-112 and tasks/loading.py:150-224).
  *
  * Scale notes:
  *  - `keepFirst` is a single hash-partition shuffle on the key columns;
  *    at 100 TB the key shuffle is unavoidable for exact dedup, but the
  *    window carries only the tiebreak columns and AQE coalesces small
  *    post-shuffle partitions.
  *  - `newRows` (anti join) broadcasts the existing-key side when small
  *    (dimension-style), else Catalyst falls back to shuffled hash join.
  */
object Dedup {

  /** D1/D2 — order-deterministic `drop_duplicates(keep="first")`
    * (transformation.py:47-49,108-112). pandas keeps the first row in
    * frame order; Spark's `dropDuplicates` keeps an arbitrary row, so we
    * impose the explicit `order` tiebreak via `row_number`.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** D3/D4 — cross-batch dedup vs warehouse: keep only incoming rows whose
    * key is absent from `existing` (loading.py:150-161,213-224 — the
    * hash-map probe becomes a left-anti join; existing side reduced to its
    * key columns so only keys shuffle/broadcast).
    */
  def newRows(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(
      broadcast(existing.select(keys.map(col): _*).distinct()),
      keys, "left_anti")

  /** Same as [[newRows]] but without the broadcast hint, for when the
    * existing side is large (let Catalyst/AQE choose the join strategy).
    * The key side is not de-duplicated: a left-anti join's result does
    * not depend on how often a key repeats on the right, and a `distinct`
    * there costs an aggregate stage per append.
    */
  def newRowsLarge(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** K2 — idempotent append: the final table state after loading `incoming`
    * into `existing` with insert-only-if-new semantics
    * (loading.py:131-193). Loading the same batch twice adds zero rows.
    */
  def idempotentAppend(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.unionByName(newRowsLarge(incoming, existing, keys))

  /** D5 — dedup-aware FK resolution with first-link-wins creation
    * (loading.py:245-292): posts reference an article by `urlCol`; articles
    * already in `existingDim` are reused; for unseen urls, the FIRST post
    * (by `order`) creates the article. Every post then resolves its
    * `article_id`.
    *
    * @param posts       fact rows carrying `urlCol`
    * @param existingDim dim rows with columns (`urlCol`, `idCol`)
    * @param newIdFrom   how to mint the id of a created article from the
    *                    creating post's row (deterministic for the oracle)
    * @return posts + resolved `idCol` column
    */
  def resolveFk(
      posts: DataFrame,
      existingDim: DataFrame,
      urlCol: String,
      idCol: String,
      order: Seq[Column],
      newIdFrom: Column): DataFrame = {
    val linked = posts.filter(col(urlCol).isNotNull)
    // first post per unseen url creates the dim row (first-link-wins memo,
    // loading.py:273-274)
    val creators = keepFirst(linked, Seq(urlCol), order)
      .join(broadcast(existingDim.select(urlCol)), Seq(urlCol), "left_anti")
      .select(col(urlCol), newIdFrom.as(idCol))
    val dim = existingDim.select(col(urlCol), col(idCol)).unionByName(creators)
    posts.join(broadcast(dim), Seq(urlCol), "left")
  }

  /** MERGE-style upsert (table-format semantics on plain frames): the
    * post-merge state where incoming rows update matching keys, insert
    * new keys, and untouched existing rows survive. This is what
    * [[idempotentAppend]] becomes once updates (not just inserts) matter
    * — the `foreachBatch` body against a MERGE-capable table format at
    * deployment. One full-outer shuffle join on the key.
    */
  def mergeUpsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val valueCols = existing.columns.filterNot(keys.contains)
    val ex = existing.withColumn("__ex", lit(true))
    val inc = valueCols.foldLeft(incoming) { (d, c) =>
      d.withColumnRenamed(c, s"__inc_$c")
    }.withColumn("__in", lit(true))
    ex.join(inc, keys, "full_outer")
      .select(keys.map(col) ++ valueCols.map(c =>
        when(col("__in"), col(s"__inc_$c")).otherwise(col(c)).as(c)) :+
        when(col("__in") && col("__ex"), "updated")
          .when(col("__in"), "inserted")
          .otherwise("kept").as("merge_action"): _*)
  }

  /** SCD2 (type-2 slowly-changing dimension) apply: given the current
    * history table (`valid_from`, `valid_to` null = open, `is_current`)
    * and a batch of incoming versions effective at `effectiveTs`, close
    * open rows whose key receives a changed value and append the new
    * versions; unchanged keys are left untouched. The historical
    * evolution of [[mergeUpsert]]: updates never overwrite, they
    * version. Two shuffles (key join + union), no row ever rewritten in
    * place — the append-only shape object stores need.
    *
    * `incoming` must carry (keys…, value columns of `existing` minus the
    * SCD bookkeeping columns).
    */
  def scd2Apply(
      existing: DataFrame, incoming: DataFrame,
      keys: Seq[String], valueCols: Seq[String],
      effectiveTs: Column): DataFrame = {
    val inc = valueCols.foldLeft(incoming) { (d, c) =>
      d.withColumnRenamed(c, s"__inc_$c")
    }.withColumn("__in", lit(true))
    val joined = existing.join(broadcast(inc), keys, "left")
    // presence markers, not value-null probes: a legitimately-null value
    // column must not masquerade as "no incoming row"
    val changed = col("__in") &&
      valueCols.map(c => !(col(c) <=> col(s"__inc_$c"))).reduce(_ || _)
    // 1. existing rows: close open rows whose key got a CHANGED value
    val updatedExisting = joined.select(
      (keys ++ valueCols).map(col) ++ Seq(
        col("valid_from"),
        when(col("is_current") && changed, effectiveTs)
          .otherwise(col("valid_to")).as("valid_to"),
        when(col("is_current") && changed, lit(false))
          .otherwise(col("is_current")).as("is_current")): _*)
    // 2. new versions: incoming rows that differ from the key's current row
    //    (or are entirely new keys)
    val current = existing.filter(col("is_current")).withColumn("__cur", lit(true))
    val newVersions = inc.join(broadcast(current), keys, "left")
      .filter(col("__cur").isNull || // brand-new key
        valueCols.map(c => !(col(c) <=> col(s"__inc_$c"))).reduce(_ || _))
      .select(keys.map(col) ++
        valueCols.map(c => col(s"__inc_$c").as(c)) ++ Seq(
        effectiveTs.as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"),
        lit(true).as("is_current")): _*)
    updatedExisting.unionByName(newVersions)
  }

  /** CDC change-log apply — reconstruct the current table state from a
    * base snapshot plus an out-of-order change log of
    * insert/update/delete operations (`op` ∈ 'I'/'U'/'D'), the batch
    * form of consuming a Debezium/binlog-style feed. Per key, the
    * LATEST change wins (order by `ts`, then `seq` — the log's own
    * sequence number breaks same-timestamp ties, as real CDC feeds
    * require); a final 'D' removes the key, a final 'I'/'U' upserts its
    * values, keys without changes keep their snapshot row.
    *
    * Plan: one window top-1 over the change log (shuffle on key; the
    * WindowGroupLimit rank-1 filter cuts map-side, so the exchange
    * carries ~1 row per changed key per mapper, not the log) + one
    * full-outer hash join against the snapshot. The log is never
    * replayed row-by-row — at 100 TB a day's log collapses to its
    * per-key frontier BEFORE touching the snapshot.
    *
    * `changes` must carry (key, ts, seq, op, valueCols…); `snapshot`
    * carries (key, valueCols…).
    */
  def applyChangeLog(snapshot: DataFrame, changes: DataFrame, key: String,
      tsCol: String, seqCol: String, opCol: String,
      valueCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(tsCol).desc, col(seqCol).desc)
    val latest = changes
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(Seq(col(key), col(opCol).as("__op")) ++
        valueCols.map(c => col(c).as(s"__c_$c")): _*)
    snapshot
      .join(latest, Seq(key), "full_outer")
      // latest D wins even over a snapshot row; absent change → snapshot
      .filter(col("__op").isNull || col("__op") =!= "D")
      .select(col(key) +: valueCols.map(c =>
        when(col("__op").isNotNull, col(s"__c_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** Incremental aggregate maintenance (the IVM classic): update a
    * grouped (count, sum) rollup under a CDC change log by touching
    * ONLY the changed keys — never recomputing from the full table.
    *
    *   new(g) = base(g) + Σ_{affected keys, new state}(g)
    *                    − Σ_{affected keys, old state}(g)
    *
    * where "affected" is the change log's key set (log-sized) and the
    * new state comes from [[applyChangeLog]] restricted to those keys.
    * Handles inserts, deletes, updates, AND group moves (an update
    * that changes the grouping attribute subtracts from the old group
    * and adds to the new one) with no special cases — the algebra does
    * it. Groups whose maintained count reaches 0 are dropped, matching
    * a recompute exactly.
    *
    * Sums are per-row-cast DECIMAL(30,10) so base + delta is EXACT and
    * therefore equal to the full-recompute sum no matter how many
    * maintenance cycles ran — the property that makes IVM trustworthy
    * at all (float drift would compound per cycle). The DuckDB oracle
    * computes the full recompute, so the hash compare IS the
    * incremental-equals-recompute theorem checked end-to-end.
    *
    * Scale shape: `base` stands in for the STORED rollup (group-sized);
    * the three joins/aggregates touch log-sized and group-sized frames
    * only. At 100 TB this is the difference between a maintenance tick
    * and a full-table pass.
    */
  def incrementalRollup(snapshot: DataFrame, changes: DataFrame, key: String,
      tsCol: String, seqCol: String, opCol: String, valueCols: Seq[String],
      group: Column, value: Column): DataFrame =
    finishRollup(mergeRollup(
      baseRollup(snapshot, group, value), // in production: the stored rollup
      rollupDeltas(snapshot, changes, key, tsCol, seqCol, opCol, valueCols,
        group, value)))

  /** The stored-rollup representation: (grp, cnt, s) with `s` kept as
    * DECIMAL — rounding happens only at the output boundary
    * ([[finishRollup]]) so maintenance CYCLES stay exact. */
  def baseRollup(df: DataFrame, group: Column, value: Column): DataFrame =
    df.groupBy(group.as("grp"))
      .agg(count(lit(1)).as("cnt"),
        sum(value.cast("decimal(30,10)")).cast("decimal(38,10)").as("s"))

  /** Per-group (Δcount, Δsum) a change log induces:
    * Σ(new state of affected keys) − Σ(old state of affected keys) —
    * log-sized work only. The streaming maintainer applies these to its
    * STORED rollup per micro-batch; the one-shot form to the base. */
  def rollupDeltas(snapshot: DataFrame, changes: DataFrame, key: String,
      tsCol: String, seqCol: String, opCol: String, valueCols: Seq[String],
      group: Column, value: Column): DataFrame = {
    val affected = changes.select(col(key)).distinct()
    val oldAffected = snapshot.join(affected, Seq(key), "left_semi")
    val newAffected =
      applyChangeLog(oldAffected, changes, key, tsCol, seqCol, opCol, valueCols)
    rollupDeltaFromStates(oldAffected, newAffected, group, value)
  }

  /** Per-group (Δcount, Δsum) between two STATES of the affected keys —
    * the algebra core shared by [[rollupDeltas]] (commit-ordered log)
    * and the out-of-order frontier maintainer
    * ([[graft.streaming.Streaming.streamingIncrementalRollupOutOfOrder]]),
    * where the new state comes from the per-key sequence frontier
    * rather than from applying this batch to the previous table. */
  def rollupDeltaFromStates(oldAffected: DataFrame, newAffected: DataFrame,
      group: Column, value: Column): DataFrame = {
    val minus = baseRollup(oldAffected, group, value)
      .select(col("grp"), col("cnt").as("nm"), col("s").as("sm"))
    val plus = baseRollup(newAffected, group, value)
      .select(col("grp"), col("cnt").as("np"), col("s").as("sp"))
    val dec0 = lit(0).cast("decimal(38,10)")
    // null-SAFE group match (round-9 ADVICE): a NULL grouping key never
    // equals itself under a plain full_outer USING join, so a null
    // group's minus and plus rows would stay on separate output rows
    // and the delta algebra would double-count it
    val m = minus.withColumnRenamed("grp", "grp_m")
    val p = plus.withColumnRenamed("grp", "grp_p")
    m.join(p, m("grp_m") <=> p("grp_p"), "full_outer")
      .select(coalesce(col("grp_m"), col("grp_p")).as("grp"),
        (coalesce(col("np"), lit(0L)) - coalesce(col("nm"), lit(0L))).as("dn"),
        (coalesce(col("sp"), dec0) - coalesce(col("sm"), dec0))
          .cast("decimal(38,10)").as("ds"))
  }

  /** Apply deltas to a stored rollup; groups whose count reaches 0
    * disappear, exactly as a recompute would drop them. */
  def mergeRollup(rollup: DataFrame, deltas: DataFrame): DataFrame = {
    val dec0 = lit(0).cast("decimal(38,10)")
    // null-safe on grp for the same reason as [[rollupDeltas]]: a null
    // group's stored row and delta row must land on ONE output row or
    // incremental diverges from recompute exactly on the null group
    val r = rollup.withColumnRenamed("grp", "grp_r")
    val d = deltas.withColumnRenamed("grp", "grp_d")
    r.join(d, r("grp_r") <=> d("grp_d"), "full_outer")
      .select(coalesce(col("grp_r"), col("grp_d")).as("grp"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("cnt"),
        (coalesce(col("s"), dec0) + coalesce(col("ds"), dec0))
          .cast("decimal(38,10)").as("s"))
      .filter(col("cnt") > 0)
  }

  /** Output boundary: surface the exact decimal sum as a rounded
    * double. Rounded because a >2^53-unscaled decimal's cast to double
    * is correctly rounded in Spark but two-step (int→double, ÷10^s) in
    * DuckDB — off by an ulp exactly when sums get big (seen at sf0.1);
    * 4 dp is still 100× finer than the cent-grained data. */
  def finishRollup(rollup: DataFrame): DataFrame =
    rollup.select(col("grp"), col("cnt"),
      round(col("s").cast("double"), 4).as("vsum"))

  /** Exact content dedup for document corpora: hash-groupBy on a
    * normalized content digest, keeping the representative with the
    * smallest `order`. Only the digest and tiebreak shuffle — at 100 TB
    * the full document body never crosses the wire.
    */
  def exactDedup(df: DataFrame, contentDigest: Column, order: Seq[Column]): DataFrame =
    keepFirst(df.withColumn("__digest", contentDigest), Seq("__digest"), order)
      .drop("__digest")

  /** Snapshot reconciliation — the warehouse diff run between two loads
    * (did yesterday's batch drop/duplicate/mutate anything?): classify
    * every key across two snapshots as added / removed / changed /
    * unchanged. One full-outer join on the key; value comparison is
    * null-safe (`<=>`) so a legitimately-NULL column can't masquerade
    * as a change. Returns (keys…, diff_status, old/new value columns).
    *
    * Unlike [[mergeUpsert]] this MUTATES nothing — it is the audit
    * query, not the apply step; `filter(diff_status != 'unchanged')` is
    * the anomaly report, and an aggregate over diff_status is the load
    * health check.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      keys: Seq[String], valueCols: Seq[String]): DataFrame = {
    val o = valueCols.foldLeft(oldSnap.select((keys ++ valueCols).map(col): _*)) {
      (d, c) => d.withColumnRenamed(c, s"old_$c")
    }.withColumn("__old", lit(true))
    val n = valueCols.foldLeft(newSnap.select((keys ++ valueCols).map(col): _*)) {
      (d, c) => d.withColumnRenamed(c, s"new_$c")
    }.withColumn("__new", lit(true))
    val changed = valueCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    o.join(n, keys, "full_outer")
      .withColumn("diff_status",
        when(col("__old").isNull, "added")
          .when(col("__new").isNull, "removed")
          .when(changed, "changed")
          .otherwise("unchanged"))
      .drop("__old", "__new")
  }

  /** Debounce — time-tolerance dedup for bursty event streams: within a
    * key, events separated by ≤ `toleranceSec` from their PREDECESSOR
    * chain into one burst, and each burst keeps its first event (plus a
    * count of what it absorbed). This is the retry/double-fire/bounce
    * suppressor that exact dedup ([[keepFirst]]) cannot express — the
    * duplicates arrive with distinct ids and near-identical timestamps.
    *
    * Chained gaps, not fixed buckets: a burst extends while consecutive
    * gaps stay within tolerance (the sessionize rule at seconds scale),
    * so a 3-event burst at t, t+tol, t+2·tol collapses to one survivor.
    * Time deltas are integral epoch seconds (engine-portable).
    *
    * Plan shape: lag + cumulative-sum + row_number all share ONE
    * (key, time) window sort, then a per-burst aggregate on the same
    * partitioning — a single exchange at any scale.
    */
  def debounce(df: DataFrame, keys: Seq[Column], ts: Column,
      tiebreak: Seq[Column], toleranceSec: Long): DataFrame = {
    require(toleranceSec >= 0,
      s"debounce: tolerance must be ≥ 0, got $toleranceSec")
    val named = keys.zipWithIndex.map { case (c, i) => c.as(s"__k$i") }
    val keyCols = keys.indices.map(i => col(s"__k$i"))
    val order = ts.as("__ts") +: tiebreak.zipWithIndex.map {
      case (c, i) => c.as(s"__t$i") }
    val orderCols = col("__ts") +: tiebreak.indices.map(i => col(s"__t$i"))
    val w = Window.partitionBy(keyCols: _*).orderBy(orderCols: _*)
    val sec = floor(unix_micros(col("__ts")) / lit(1000000L)).cast("long")
    val newBurst = when(
      (sec - lag(sec, 1).over(w)) <= toleranceSec, lit(0L)).otherwise(lit(1L))
    df.select(named ++ order ++ df.columns.map(col): _*)
      .withColumn("__burst", sum(newBurst).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keyCols :+ col("__burst"): _*)
          .orderBy(orderCols: _*)))
      .withColumn("n_in_burst", count(lit(1)).over(
        Window.partitionBy(keyCols :+ col("__burst"): _*)))
      .filter(col("__rn") === 1)
      .withColumn("burst", col("__burst"))
      .drop(keys.indices.map(i => s"__k$i") ++
        tiebreak.indices.map(i => s"__t$i") ++
        Seq("__ts", "__burst", "__rn"): _*)
  }

  /** Exact-dup provenance — per content digest: copy count, the keeper
    * (minimum key, the same canonicalization [[exactDedup]] applies) and
    * the SORTED distinct source set, so lineage survives the dedup
    * ("this retained doc also appeared in crawl X and dump Y" — what a
    * training-data audit asks after collapse). One aggregate on the
    * digest; collect_set is bounded by the source-label cardinality
    * (10¹-10², never corpus-sized), and sorting it inside the row makes
    * the output deterministic under any partitioning.
    *
    * Returns (digest, n_copies, keeper, n_sources, sources) with
    * `sources` comma-joined in lexicographic order.
    */
  def dedupProvenance(df: DataFrame, key: Column, digest: Column,
      source: Column): DataFrame =
    df.select(key.as("key"), digest.as("digest"), source.as("source"))
      .groupBy("digest")
      .agg(count(lit(1)).as("n_copies"),
        min(col("key")).as("keeper"),
        countDistinct(col("source")).as("n_sources"),
        array_join(array_sort(collect_set(col("source"))), ",").as("sources"))
}
