package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.10): replaces the
  * reference's Prefect-schedule + S3-landing + Databricks-trigger chain
  * (load_to_s3.py + trigger_databricks_job.py) with a file-source stream
  * processed via `Trigger.AvailableNow` — the same "process whatever has
  * landed, then stop" semantics, but exactly-once and incremental via
  * checkpointing instead of hand-rolled idempotent upserts.
  *
  * Each entry runs the stream to completion synchronously and returns the
  * result as a batch DataFrame so the driver's Verify can compare it
  * against the DuckDB oracle (deterministic because AvailableNow over a
  * static directory is one replayable batch).
  */
/** Row shapes for [[Streaming.streamingFfill]] — top-level (not nested
  * private) so Spark's generated encoder code can access them.
  */
case class FillEvent(event_id: Long, user_id: Long, ts: java.sql.Timestamp, value: Option[Double])
case class FilledEvent(event_id: Long, user_id: Long, ts: java.sql.Timestamp, value_filled: Option[Double])

/** Per-key forward-fill processor for Spark 4's `transformWithState`
  * arbitrary-state API — semantics identical to the
  * `flatMapGroupsWithState` closure in [[Streaming.streamingFfill]]
  * (asserted equal in StreamingSinksSpec, and oracled by the same SQL):
  * state = last non-null value per key, rows sorted by (event time µs,
  * event_id) within a batch. ValueState replaces GroupState; TTLConfig
  * is the state-retention dial fmGWS lacks (NONE here — the batch twin).
  */
class FfillProcessor extends StatefulProcessor[Long, FillEvent, FilledEvent] {
  @transient private var last: ValueState[Double] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    last = getHandle.getValueState[Double]("last", Encoders.scalaDouble, TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[FillEvent],
      timerValues: TimerValues): Iterator[FilledEvent] = {
    var lastOpt: Option[Double] = if (last.exists()) Some(last.get()) else None
    val out = rows.toSeq.sortBy(e =>
      (e.ts.toInstant.getEpochSecond * 1000000000L + e.ts.toInstant.getNano,
        e.event_id)).map { e =>
      val v = e.value.orElse(lastOpt)
      if (e.value.isDefined) lastOpt = e.value
      FilledEvent(e.event_id, e.user_id, e.ts, v)
    }
    lastOpt.foreach(last.update)
    out.iterator
  }
}

object Streaming {

  /** File-source stream over events.parquet.
    *
    * The stream schema is SNIFFED from the parquet footers via a batch
    * read instead of hardcoded, because the physical layout of `ts` has
    * drifted across testdata generations (TIMESTAMP(NANOS) → int64-nanos
    * Long under nanosAsLong; timestamp[us] → TIMESTAMP_NTZ). Declaring
    * the wrong layout is SILENT corruption (a µs value divided by 1000
    * lands in January 1970 and every watermark/window degenerates), so:
    *   1. the declared readStream schema always matches the footers, and
    *   2. [[Sources.normalizeTs]] — the same dispatch the batch readers
    *      use — rebuilds a true TimestampType `ts`, and
    *   3. a one-row tripwire asserts the normalized event time is
    *      post-2000, making the next layout drift loud instead of silent.
    * The sniff reads one footer (no data pages) — negligible at any scale.
    */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val normalized = graft.sources.Sources.normalizeTs(
      spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events*.parquet")
        .parquet(dir))
    // Tripwire on the BATCH twin of the same plan (a streaming frame
    // can't be eagerly sampled): one row through the same normalization.
    graft.sources.Sources.normalizeTs(
        spark.read.schema(rawSchema).parquet(s"$dir/events.parquet"))
      .select(col("ts")).limit(1).collect().headOption.foreach { r =>
        val ts = r.getTimestamp(0)
        require(ts == null || ts.toInstant.isAfter(java.time.Instant.parse("2000-01-01T00:00:00Z")),
          s"events stream sanity check failed: normalized ts=$ts is pre-2000 — " +
            "the parquet physical layout likely drifted again; fix Sources.normalizeTs")
      }
    normalized
  }

  /** Per-JVM scratch root for stream outputs/checkpoints. DETERMINISTIC
    * per (table, pid) and wiped before each use — repeated Verify/Bench
    * runs inside one JVM reuse the same paths instead of accumulating
    * orphan temp dirs (a 3-runs-each bench over ~12 streaming queries
    * would otherwise leave ~72 of them per invocation). The pid segment
    * keeps concurrent JVMs apart; the whole root dies with the JVM's
    * shutdown hook.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_stream_${ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.operators.IndexStore.deleteRec(p.toFile)))
    p
  }

  private def freshDir(name: String): String = {
    val p = scratchRoot.resolve(name)
    graft.operators.IndexStore.deleteRec(p.toFile)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Land a tagged change frame as ONE FILE PER DISTINCT `__b` value,
    * named (and mtime-stamped) in ascending batch order — the shared
    * landing step of the cumulative/IVM folds. The frame is locally
    * checkpointed first so the caller's (often multi-union) fixture
    * plan computes ONCE, in parallel (round-10: the OOO-CDC fixture's
    * 4-way union was recomputed three times); a single
    * `coalesce(1).partitionBy("__b")` write job then lands every
    * batch — exactly one data file per distinct batch value, because
    * one task writes them all. Round 15 (guide §1.2 — fewer actions
    * for the same bytes): the previous per-batch loop ran one
    * distinct+collect job plus one write job per batch over the same
    * checkpoint; N+1 jobs collapse into 1 with byte-equal batch
    * content. The partition dirs are renamed to the b%%04d.parquet
    * layout in ascending batch-value order (numeric when every value
    * parses as a number, via BigDecimal — doubleValue loses precision
    * above 2^53 and string order would put batch 10 before 2; string
    * order otherwise) and mtime-stamped, so every
    * consumer sees the identical layout and delivery order. Rows with
    * a NULL batch id are dropped, as the old `=== lit(b)` filter
    * already did silently. */
  private[graft] def landBatchFiles(tagged: DataFrame, land: String): Unit = {
    val (tck, rel) = graft.operators.Eager.tracked(
      tagged.filter(col("__b").isNotNull))
    try {
      tck.coalesce(1).write.mode("overwrite")
        .partitionBy("__b").parquet(land)
    } finally rel()
    val landDir = new java.io.File(land)
    val parts = Option(landDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("__b="))
    // order by the PARTITION VALUE, numeric-first (hive-escaped names
    // decode %XX only; '+' is literal)
    def unescape(s: String): String = {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    val byValue = parts.map(f => unescape(f.getName.substring(4)) -> f)
    val ordered =
      if (byValue.forall(v => scala.util.Try(BigDecimal(v._1)).isSuccess))
        byValue.sortBy(v => BigDecimal(v._1))
      else byValue.sortBy(_._1)
    ordered.zipWithIndex.foreach { case ((_, dir), i) =>
      val dst = new java.io.File(land, f"b$i%04d.parquet")
      java.nio.file.Files.move(dir.toPath, dst.toPath)
      stampBatchMtime(dst.toString, i)
    }
    // the writer's root-level marker (and its checksum twin) would be
    // one more (ignored, hidden) listing entry per stream start — drop
    new java.io.File(landDir, "_SUCCESS").delete()
    new java.io.File(landDir, "._SUCCESS.crc").delete()
    ()
  }

  /** Stamp every file under `dir` with a strictly increasing (per batch
    * index) modification time. FileStreamSource orders files by MTIME,
    * not name — two batch files written within the same mtime
    * granularity could be delivered out of order, silently violating
    * the commit-order contract the cumulative folds depend on (round-9
    * ADVICE). An explicit 60 s spacing makes listing order == batch
    * order on every filesystem timestamp granularity. */
  private def stampBatchMtime(dir: String, i: Int): Unit = {
    val base = 1600000000000L // fixed epoch base: only ORDER matters
    def walk(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(walk)
      f.setLastModified(base + i * 60000L); ()
    }
    walk(new java.io.File(dir))
  }

  private def runToCompletion(df: DataFrame, mode: OutputMode, table: String)(
      implicit spark: SparkSession): DataFrame = {
    // Stateful operators allocate one state-store instance per shuffle
    // partition per operator PER MICRO-BATCH (a stream-stream join keeps
    // four stores per partition), so the partition count is a fixed
    // per-batch tax independent of data volume. Batch queries want
    // partitions ≈ cores; streaming state wants partitions ≈ state
    // volume — so the harness dials it down separately via
    // `graft.stream.shufflePartitions` (unset = session default). The
    // partition count is baked into each checkpoint at first start;
    // these scratch checkpoints are per-run, so re-dialing is safe here
    // where a production resume would not be.
    val partKey = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.get(partKey)
    spark.conf.getOption("graft.stream.shufflePartitions")
      .foreach(n => spark.conf.set(partKey, n))
    try runToCompletionInner(df, mode, table)
    finally spark.conf.set(partKey, prevParts)
  }

  private def runToCompletionInner(df: DataFrame, mode: OutputMode, table: String)(
      implicit spark: SparkSession): DataFrame = {
    // foreachBatch → parquet, NOT format("memory"): the memory sink
    // collects every result row onto the driver, which caps the stream at
    // driver-heap scale. Here each micro-batch writes distributed files
    // (Complete mode overwrites with the latest full result; Append mode
    // accumulates emitted rows) and the caller reads them back lazily.
    val out = freshDir(s"${table}_out")
    val ck = freshDir(s"${table}_ck")
    val saveMode = if (mode == OutputMode.Complete()) "overwrite" else "append"
    val debug = sys.env.contains("SPARK_GRAFT_STREAM_DEBUG")
    val t0 = System.nanoTime()
    val q = df.writeStream
      .outputMode(mode)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (debug) System.err.println(
          f"[stream $table] batch $id at ${(System.nanoTime() - t0) / 1e9}%.2fs")
        batch.write.mode(saveMode).parquet(out); ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    if (debug) System.err.println(
      f"[stream $table] done at ${(System.nanoTime() - t0) / 1e9}%.2fs")
    spark.read.parquet(out)
  }

  /** Streaming candle aggregation: tumbling 1-day event-time windows per
    * user with a watermark bounding state (the north-star §2.10 op). At
    * scale: watermark evicts window state, partial aggregation happens
    * map-side per micro-batch, only (user, window) partials shuffle.
    */
  def streamingCandles(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 day")
      .groupBy(col("user_id"), window(col("ts"), "1 day").as("w"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,10)")).cast("double").as("vsum"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"))
      .select(col("user_id"), col("w.start").as("day"), col("n"),
        col("vsum"), col("vmin"), col("vmax"))
    runToCompletion(agg, OutputMode.Complete(), "stream_candles")
  }

  /** SLIDING-window rollup — `window(ts, "2 days", "1 day")`: each event
    * lands in duration/slide = 2 overlapping windows (the overlap factor
    * is the state/shuffle amplification dial — Spark expands the windows
    * BEFORE the aggregate, so a 2× overlap is a 2× row fan-out into the
    * same hash aggregate, never a per-window re-scan). NOTE: this query
    * runs in Complete output mode, where Spark IGNORES the watermark for
    * state eviction — state is bounded here only because AvailableNow
    * input is finite; a continuous deployment of this pattern must use
    * Append/Update mode for the declared watermark to actually evict
    * closed windows. Windows are epoch-aligned so the batch oracle
    * replays them as {day(ts) − 1 day, day(ts)}.
    */
  def streamingSlidingRate(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 day")
      .groupBy(col("event_type"),
        window(col("ts"), "2 days", "1 day").as("w"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,10)")).cast("double").as("vsum"))
      .select(col("event_type"), col("w.start").as("w_start"), col("n"),
        col("vsum"))
    runToCompletion(agg, OutputMode.Complete(), "stream_sliding")
  }

  /** Streaming dedup with watermark-bounded state — the streaming form of
    * the reference's cross-batch URL dedup (loading.py:150-161; the 2-day
    * watermark mirrors its 2-day pull window).
    *
    * dropDuplicatesWithinWatermark (not plain dropDuplicates): the dedup
    * keys exclude the event-time column, and plain dropDuplicates on such
    * keys never evicts state via the watermark — unbounded state on a
    * real continuous stream. The WithinWatermark variant expires each
    * key's state once the watermark passes its event time + delay, which
    * is exactly the reference's "dedup within the 2-day pull window"
    * contract. Over AvailableNow on a static dir (one batch, watermark
    * starts at 0) no state expires mid-run, so the result still equals
    * DISTINCT(user_id, event_type).
    */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val dd = eventsStream(spark, dir)
      .withWatermark("ts", "2 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")
    runToCompletion(dd, OutputMode.Append(), "stream_dedup")
  }

  /** Stream-static join: the event stream enriches against a static
    * (broadcast) dimension mid-stream, then aggregates per dim attribute
    * — the streaming form of the reference's ticker→company lookup
    * (loading.py:93-108 built its dict cache once and probed per record;
    * here the broadcast does that per micro-batch).
    */
  def streamingEnrich(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import org.apache.spark.sql.functions.broadcast
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventsStream(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,10)")).cast("double"), 4)
          .as("vsum"))
    runToCompletion(agg, OutputMode.Complete(), "stream_enrich")
  }

  /** Session-window aggregation on the stream: per-user sessions merged
    * under a 30-minute gap, state bounded by the watermark. Append mode
    * (session windows don't support complete), so only watermark-closed
    * sessions emit. Deterministic for AvailableNow over a static
    * directory, where the final watermark is max(ts) − 1 day — making
    * the emission cutoff SQL-expressible (oracled: sessions whose end ≤
    * that watermark).
    */
  def streamingSessions(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 day")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,10)")).cast("double").as("vsum"))
      .select(col("user_id"), col("w.start").as("s_start"),
        col("w.end").as("s_end"), col("n"), col("vsum"))
    runToCompletion(agg, OutputMode.Append(), "stream_sessions")
  }

  /** Stream-stream interval join: views joined to purchases of the same
    * user within the following hour, both sides watermarked so join
    * state is evicted. Inner-join matches emit as both sides arrive;
    * for AvailableNow over a static dir the result equals the batch
    * interval join, so it shares that oracle.
    */
  def streamingIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val ev = eventsStream(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withWatermark("ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("q_event_id"), col("user_id").as("q_user_id"),
        col("ts").as("q_ts"))
      .withWatermark("q_ts", "1 hour")
    val joined = views.join(purchases,
      col("user_id") === col("q_user_id") &&
        col("q_ts") >= col("ts") &&
        col("q_ts") < col("ts") + expr("INTERVAL 1 HOUR"))
      .select("event_id", "user_id", "ts", "q_event_id", "q_ts")
    runToCompletion(joined, OutputMode.Append(), "stream_interval")
  }

  /** Stream-stream LEFT OUTER interval join: like
    * [[streamingIntervalJoin]], but views with no purchase in the hour
    * emit null-extended — and only once the watermark PROVES no match
    * can still arrive (no purchase older than the watermark will be
    * accepted, so a view is closed when watermark ≥ view.ts + 1 h).
    * This is the streaming form of "label carts abandoned after the
    * cutoff": emission is driven by state eviction, not data arrival.
    * Over AvailableNow on a static dir the final watermark is
    * min(max view ts, max purchase ts) − 1 h, making the null-extension
    * cutoff SQL-expressible (the oracle replays it).
    */
  def streamingIntervalJoinOuter(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val ev = eventsStream(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withWatermark("ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("q_event_id"), col("user_id").as("q_user_id"),
        col("ts").as("q_ts"))
      .withWatermark("q_ts", "1 hour")
    val joined = views.join(purchases,
      col("user_id") === col("q_user_id") &&
        col("q_ts") >= col("ts") &&
        col("q_ts") < col("ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select("event_id", "user_id", "ts", "q_event_id", "q_ts")
    runToCompletion(joined, OutputMode.Append(), "stream_interval_outer")
  }

  /** Streaming JSON ingestion — the second file-source FORMAT next to
    * parquet: events are landed as JSONL (the shape API webhooks and
    * log shippers actually deliver), then consumed by a schema-declared
    * JSON file stream and rolled up into per-day/type candles. JSON
    * streams REQUIRE a declared schema (no footer to sniff — schema
    * drift surfaces as nulls, the PERMISSIVE contract of
    * [[graft.sources.Sources.readJson]]); event time rides as epoch-µs
    * long in the payload and is rebuilt with `timestamp_micros`, the
    * transport-safe convention (ISO strings would re-open the
    * layout-drift class the parquet readers just closed).
    *
    * The landing write is part of the demo, not the operator: one
    * deterministic overwrite into per-JVM scratch. Shares the batch
    * day-rollup oracle shape; at scale the landing dir is the
    * long-lived ingest bucket and the stream runs continuously.
    */
  def streamingJsonIngest(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val land = freshDir("json_land")
    graft.sources.Sources.table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"))
      .coalesce(4).write.mode("overwrite").json(land)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts_us", LongType)))
    val agg = spark.readStream.schema(schema).json(land)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 day")
      .groupBy(col("event_type"), window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,10)")).cast("double").as("vsum"))
      .select(col("event_type"), col("w.start").as("day"), col("n"), col("vsum"))
    runToCompletion(agg, OutputMode.Complete(), "stream_json")
  }

  /** Streaming CDC materializer — consume an I/U/D change log as a file
    * stream and maintain the table's current state: each micro-batch
    * merges into a per-key FRONTIER (the latest (ts, seq) change per
    * key, tombstones included), and the final state is the frontier
    * applied to the base snapshot. Latest-wins merge is associative and
    * commutative over (ts, seq), so the result is independent of how
    * the log is split into batches — asserted by running with
    * `maxFilesPerTrigger=1` (one file per batch) against the one-shot
    * batch oracle.
    *
    * State layout: the frontier is written to a NEW versioned directory
    * per batch (read v_{prev} → merge → write v_{id}) — the
    * read-merge-rewrite is safe (never overwrites what it reads) and
    * deterministic. At deployment scale the rewrite becomes a table
    * format's MERGE (the frontier is key-sized, not log-sized, so even
    * the rewrite form is bounded); the landing dir is the CDC topic's
    * file sink.
    */
  def streamingCdc(spark: SparkSession, snapshot: DataFrame, changes: DataFrame,
      key: String, tsCol: String, seqCol: String, opCol: String,
      valueCols: Seq[String]): DataFrame = {
    implicit val s: SparkSession = spark
    import org.apache.spark.sql.expressions.Window
    val land = freshDir("cdc_land")
    val stateRoot = freshDir("cdc_state")
    changes.repartition(4).write.mode("overwrite").parquet(land)
    val schema = spark.read.parquet(land).schema
    def versionDirs = new java.io.File(stateRoot).listFiles() match {
      case null => Array.empty[java.io.File]
      case fs => fs.filter(f => f.isDirectory && f.getName.startsWith("v"))
    }
    def latestVersion: Option[String] =
      versionDirs.sortBy(f => f.getName.drop(1).toLong).lastOption.map(_.toString)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // force multi-batch: one file each
      .parquet(land)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val existing = latestVersion.map(spark.read.parquet(_))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema))
        val w = Window.partitionBy(col(key))
          .orderBy(col(tsCol).desc, col(seqCol).desc)
        existing.unionByName(batch)
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .drop("__rn")
          .write.mode("overwrite").parquet(s"$stateRoot/v$id")
        ()
      }
      .option("checkpointLocation", freshDir("cdc_ck"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val frontier = latestVersion.map(spark.read.parquet(_)).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    // the frontier is itself a one-change-per-key log: reuse the batch
    // apply for the final snapshot join (and its semantics exactly)
    graft.operators.Dedup.applyChangeLog(snapshot, frontier,
      key, tsCol, seqCol, opCol, valueCols)
  }

  /** Streaming INCREMENTAL VIEW MAINTENANCE — the deployment form of
    * [[graft.operators.Dedup.incrementalRollup]]: the CDC log lands as
    * one file per `batchOf` value (ascending — commit order, the
    * binlog/WAL-shipping contract; per-key changes must not go back in
    * time across batches) and each micro-batch advances BOTH maintained
    * artifacts with log-bounded compute:
    *
    *   rollup ← rollup ⊕ Δ(table, batch)   (per-group count/sum deltas)
    *   table  ← (table ∖ affected) ∪ applyChangeLog(affected, batch)
    *
    * The stored rollup keeps its sums as exact DECIMAL between batches
    * (rounding only at the output boundary), so ANY batch split of a
    * commit-ordered log lands on the same rollup as the one-shot apply
    * — which is exactly what the shared oracle (full recompute) checks.
    * State is versioned parquet per batch ([[streamingCdc]]'s pattern);
    * the table is BUCKET-versioned ([[BucketedTable]], round-10): the
    * rewrite is log-bounded in COMPUTE (anti-join + union of affected
    * keys) and now in I/O too — a batch writes only the key buckets it
    * touches, the current table is assembled merge-on-read from each
    * bucket's newest version, and untouched buckets' files stay
    * byte-identical on disk (checksum-spec'd).
    */
  def streamingIncrementalRollup(spark: SparkSession, snapshot: DataFrame,
      changes: DataFrame, batchOf: org.apache.spark.sql.Column,
      key: String, tsCol: String, seqCol: String, opCol: String,
      valueCols: Seq[String], group: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column): DataFrame =
    streamingIncrementalRollupCore(spark, snapshot, changes, batchOf,
      key, tsCol, seqCol, opCol, valueCols, group, value)._1

  /** TIME-TRAVEL over the maintained rollup's version tree: runs the
    * [[streamingIncrementalRollup]] fold, then reads the rollup AS OF
    * each `(tag, versionId)` via [[BucketedTable.currentAsOf]] — the
    * "reproduce the training mix as of batch k" primitive a versioned
    * lake table gives for free. Version ids: 0 is the seeded base,
    * batch b commits version b+1 (monotone by construction). Each
    * as-of read is the SAME maintained state the stream held after
    * that batch — the oracle recomputes each point from the restricted
    * change log, so hash-green proves point-in-time correctness, not
    * just the final state.
    *
    * Compaction is DEFERRED on the rollup root (compactThreshold = 0,
    * round-11 ADVICE): a fold both shifts nextVersionId and deletes the
    * pre-fold versions, so on a stream longer than the threshold the
    * 'batch b commits version b+1' contract would silently break and
    * early tags would read compacted-away state —
    * [[BucketedTable.currentAsOf]] now also fails loudly below the
    * retention horizon rather than degrading to the base snapshot.
    * Callers that want bounded history pass an explicit threshold and
    * accept the horizon. */
  def streamingIncrementalRollupTimeTravel(spark: SparkSession,
      snapshot: DataFrame, changes: DataFrame,
      batchOf: org.apache.spark.sql.Column,
      key: String, tsCol: String, seqCol: String, opCol: String,
      valueCols: Seq[String], group: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column,
      asOf: Seq[(String, Long)],
      compactThreshold: Int = 0): DataFrame = {
    import graft.operators.Dedup
    require(asOf.nonEmpty, "time travel needs at least one (tag, version)")
    val (_, rollupRoot, rollupBase) = streamingIncrementalRollupCore(
      spark, snapshot, changes, batchOf, key, tsCol, seqCol, opCol,
      valueCols, group, value, compactThreshold)
    asOf.map { case (tag, v) =>
      Dedup.finishRollup(
          BucketedTable.currentAsOf(spark, rollupRoot, rollupBase, "grp", v))
        .withColumn("as_of", lit(tag))
    }.reduce(_.unionByName(_))
  }

  /** Materialize the time-travel fold's artifacts into `targetDir`:
    * `rollup/` (the bucket-versioned version tree, compaction deferred
    * so batch b = version b+1 holds for every tag) and `base/` (the
    * seeded base rollup as parquet). The bench fixture builds this ONCE
    * per corpus identity behind [[graft.operators.IndexStore.ensure]]
    * (round-11 verdict #8): the time-travel READS are the query —
    * re-folding the whole maintainer per timed run priced the
    * maintainer again, which q_stream_incr_rollup already prices.
    * [[streamingIncrementalRollupTimeTravel]] remains the
    * fold-and-read-in-one-call form. */
  def materializeIvmTimeTravel(spark: SparkSession, snapshot: DataFrame,
      changes: DataFrame, batchOf: org.apache.spark.sql.Column,
      key: String, tsCol: String, seqCol: String, opCol: String,
      valueCols: Seq[String], group: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column, targetDir: String): Unit = {
    val (_, rollupRoot, rollupBase) = streamingIncrementalRollupCore(
      spark, snapshot, changes, batchOf, key, tsCol, seqCol, opCol,
      valueCols, group, value, compactThreshold = 0)
    graft.operators.IndexStore.copyRec(
      new java.io.File(rollupRoot), new java.io.File(targetDir, "rollup"))
    rollupBase.write.mode("overwrite").parquet(s"$targetDir/base")
  }

  private def streamingIncrementalRollupCore(spark: SparkSession,
      snapshot: DataFrame,
      changes: DataFrame, batchOf: org.apache.spark.sql.Column,
      key: String, tsCol: String, seqCol: String, opCol: String,
      valueCols: Seq[String], group: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column,
      compactThreshold: Int = BucketedTable.defaultCompactThreshold)
      : (DataFrame, String, DataFrame) = {
    import graft.operators.Dedup
    val land = freshDir("ivm_land")
    val tableRoot = freshDir("ivm_table")
    val rollupRoot = freshDir("ivm_rollup")
    landBatchFiles(changes.withColumn("__b", batchOf), land)
    val schema = spark.read.parquet(s"$land/b0000.parquet").schema
    // the rollup is BUCKET-versioned too (round-10 verdict #2): its base
    // (group-sized, but table-sized when groups are high-cardinality) is
    // written ONCE before the stream claiming all buckets, so per-batch
    // merge-on-read never re-executes the base aggregate — each batch
    // then commits only the buckets of groups its delta touches
    val rollupBase = Dedup.baseRollup(snapshot, group, value)
    BucketedTable.seedBase(rollupRoot, rollupBase, "grp")
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(land)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // maintained table AND rollup are BUCKET-versioned (round-10
        // verdicts #3/#2): the batch commits only the buckets it
        // touches; untouched buckets' files are never rewritten. The
        // per-batch READ is bucket-pruned as well (verdict #6): the
        // delta and rewrite work only ever touches affected buckets,
        // and the per-bucket layout lets us open exactly those files.
        // No per-batch checkpoints: the delta plan is affected-bucket-
        // sized, so re-executing it for the claim collect is cheaper
        // than a localCheckpoint job at micro-batch floors (measured —
        // the same lesson as the round-10 probe-path notes).
        val affected = batch.select(col(key)).distinct()
        val affIds = BucketedTable.bucketIds(affected, key)
        val tableAff = BucketedTable.currentBuckets(
          spark, tableRoot, snapshot, key, affIds)
        // retry detection (round-12 review): the rollup merge is
        // additive, so a batch re-delivered after a crash between the
        // rollup and table commits must NOT re-merge its deltas — the
        // newest rollup version's `_batch` marker says whether this
        // batch's deltas already landed. (The table/frontier applies
        // are winner-recomputations — idempotent — so only the rollup
        // needs the guard.)
        if (!newestBatchMarker(rollupRoot).contains(id)) {
          val deltas = Dedup.rollupDeltas(tableAff, batch, key, tsCol,
            seqCol, opCol, valueCols, group, value)
          // rollup claim: a key MOVING groups deltas its OLD group too,
          // so a precise claim must come from the delta frame itself.
          // But a SUPERSET claim is always correct (the claimed
          // buckets' full content is written either way — untouched
          // groups pass through the merge), so the claim is ADAPTIVE
          // on batch sparsity, which affIds measures for free: a batch
          // already touching every KEY bucket is table-wide — claim all
          // group buckets and skip the delta-collect job (write
          // amplification is zero when the batch is dense); only a
          // SPARSE batch — the 100 TB shape — pays the precise collect
          // that makes its rollup write delta-sized.
          val gIds =
            if (affIds.size == BucketedTable.defaultBuckets)
              (0 until BucketedTable.defaultBuckets)
            else BucketedTable.bucketIds(deltas.select(col("grp")), "grp")
          val rollupAff = BucketedTable.currentBuckets(
            spark, rollupRoot, rollupBase, "grp", gIds)
          // rollup commits carry the caller's compactThreshold: the
          // time-travel entry point defers compaction (0) so 'batch b =
          // version b+1' holds for the whole stream and no tagged point
          // falls below the retention horizon
          BucketedTable.commitNext(rollupRoot,
            Dedup.mergeRollup(rollupAff, deltas), gIds, "grp",
            compactThreshold = compactThreshold,
            sidecars = batchMarker(id))
        }
        val newAffected = Dedup.applyChangeLog(
          tableAff.join(affected, Seq(key), "left_semi"),
          batch, key, tsCol, seqCol, opCol, valueCols)
        BucketedTable.commitNext(tableRoot,
          tableAff.join(affected, Seq(key), "left_anti")
            .unionByName(newAffected),
          affIds, key)
        ()
      }
      .option("checkpointLocation", freshDir("ivm_ck"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (Dedup.finishRollup(
      BucketedTable.current(spark, rollupRoot, rollupBase, "grp")),
      rollupRoot, rollupBase)
  }

  /** OUT-OF-ORDER streaming IVM (round-9 verdict #5) — the
    * [[streamingIncrementalRollup]] contract without the commit-order
    * assumption: real CDC arrives late and shuffled, so a micro-batch
    * may carry an EARLIER (ts, seq) for a key a later change already
    * updated. Correctness comes from a per-key SEQUENCE FRONTIER: the
    * maintained state keeps, for every key ever touched, the
    * (ts, seq)-maximal change seen so far, and each batch's winner is
    * recomputed as max(frontier row, batch rows). Because per-key max
    * is commutative and associative, ANY delivery order of the same
    * log converges to the same frontier = the one-shot
    * [[graft.operators.Dedup.applyChangeLog]] winner — which is
    * exactly what the shared full-recompute oracle checks. A batch
    * whose change loses to the frontier contributes a zero delta; the
    * rollup algebra ([[graft.operators.Dedup.rollupDeltaFromStates]])
    * handles both directions with no special cases.
    *
    * Bounded lateness: `maxLatenessSec` is the event-time watermark —
    * a change older than (high-water-mark − bound) is REJECTED (and
    * counted per batch on stderr); the mark itself is the frontier's
    * max event time — every accepted change's ts is ≤ its key's
    * frontier ts, so no separate hwm state exists. Bounding is what
    * bounds frontier state retention in a production deployment: once
    * the watermark passes a key's last activity the frontier row is
    * immovable and could be compacted into the table. The fixture
    * query passes a bound wider than the log's disorder so the result
    * is the full recompute; the rejection path is spec-covered.
    *
    * Scale shape: per batch, all joins/aggregates touch log-sized and
    * affected-key-sized frames only (the frontier is touched-key-sized,
    * far smaller than the table under normal churn); the table is
    * bucket-versioned ([[BucketedTable]]) — each batch rewrites only
    * the key buckets it touches, untouched buckets' files stay
    * byte-identical on disk.
    */
  /** `_hwm` sidecar on a committed TABLE version of the out-of-order
    * maintainer: the high-water mark AFTER that batch's full (3-commit)
    * application. Written after the manifest, so a crash in between
    * leaves a manifested version without a sidecar — restart then
    * re-seeds from an OLDER sidecar and re-applies the batch, which is
    * idempotent; the reverse order could skip it. Format: epoch-millis
    * + nanos-of-second (java.sql.Timestamp's split), space-separated. */
  private[graft] def writeHwmSidecar(root: String, versionId: Long,
      hwm: java.sql.Timestamp): Unit = {
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/v$versionId", "_hwm"),
      s"${hwm.getTime} ${hwm.getNanos}".getBytes("UTF-8"))
    ()
  }

  /** The newest manifested table version's `_hwm` sidecar, if any —
    * the restart re-seed source for the out-of-order maintainer's
    * watermark (see [[writeHwmSidecar]]; a fold from
    * [[BucketedTable.compact]] carries no sidecar, so a fully-compacted
    * root falls back to the caller's legacy path). */
  private[graft] def persistedHwm(root: String): Option[java.sql.Timestamp] =
    BucketedTable.versions(root).reverse.iterator
      .filter { case (_, d) => new java.io.File(d, "_buckets").isFile }
      .map { case (_, d) => new java.io.File(d, "_hwm") }
      .collectFirst { case f if f.isFile =>
        val parts = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .trim.split(" ")
        val t = new java.sql.Timestamp(parts(0).toLong)
        t.setNanos(parts(1).toInt)
        t
      }

  /** `_batch` sidecar: the micro-batch id a rollup version applied,
    * committed atomically with the version (sidecars land before the
    * manifest — see [[BucketedTable.commitIds]]). The rollup merge is
    * ADDITIVE, not idempotent: a batch retried after a crash between
    * the rollup commit and the table commit would re-merge the same
    * deltas and double-count silently (round-12 review). The marker
    * makes the retry detectable: a batch whose id equals the newest
    * rollup version's marker skips the rollup commit — its deltas are
    * already in. Folds carry the newest marker forward. */
  private def batchMarker(id: Long): Seq[(String, Array[Byte])] =
    Seq("_batch" -> id.toString.getBytes("UTF-8"))

  /** The newest manifested rollup version's `_batch` marker, if any. */
  private[graft] def newestBatchMarker(root: String): Option[Long] =
    BucketedTable.versions(root).reverse.iterator
      .filter { case (_, d) => new java.io.File(d, "_buckets").isFile }
      .map { case (_, d) => new java.io.File(d, "_batch") }
      .collectFirst { case f if f.isFile =>
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .trim.toLong
      }

  def streamingIncrementalRollupOutOfOrder(spark: SparkSession,
      snapshot: DataFrame, changes: DataFrame,
      batchOf: org.apache.spark.sql.Column,
      key: String, tsCol: String, seqCol: String, opCol: String,
      valueCols: Seq[String], group: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column, maxLatenessSec: Long): DataFrame = {
    import graft.operators.Dedup
    val land = freshDir("ivm_ooo_land")
    val tableRoot = freshDir("ivm_ooo_table")
    val rollupRoot = freshDir("ivm_ooo_rollup")
    val frontRoot = freshDir("ivm_ooo_front")
    landBatchFiles(changes.withColumn("__b", batchOf), land)
    val schema = spark.read.parquet(s"$land/b0000.parquet").schema
    def winner(changes: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
        .orderBy(col(tsCol).desc, col(seqCol).desc)
      changes.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
    val chCols = (Seq(key, tsCol, seqCol, opCol) ++ valueCols).map(col)
    // ALL THREE maintained artifacts are bucket-versioned (round-10
    // verdict #2 extended the table's treatment to rollup and frontier:
    // with high-cardinality groups the frontier IS table-sized, so the
    // same write-amplification argument applies). The rollup base is
    // seeded once claiming all buckets so per-batch merge-on-read never
    // re-executes the base aggregate; the frontier's base is empty.
    val rollupBase = Dedup.baseRollup(snapshot, group, value)
    BucketedTable.seedBase(rollupRoot, rollupBase, "grp")
    val frontEmpty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .select(chCols: _*)
    // the high-water mark: the running max of all ACCEPTED-AND-APPLIED
    // event times — carried as a DRIVER variable across the synchronous
    // AvailableNow fold, advanced ONLY after a batch's three commits
    // all land (round-11 ADVICE: advancing before the commits meant a
    // batch retried after a crash between the frontier commit and the
    // table/rollup commits re-filtered with a STRICTER cutoff — its own
    // max ts already in the mark — so rows accepted and frontier-merged
    // on attempt 1 were rejected as late on retry and their
    // table/rollup application permanently skipped). Restart re-seed
    // reads the `_hwm` sidecar of the newest fully-committed TABLE
    // version (the table commits last, so its sidecar reflects exactly
    // the batches whose full application completed) — NOT the frontier
    // max, which already contains a crashed batch's rows and would
    // reintroduce the same stricter-cutoff bug across JVMs. Legacy
    // roots without sidecars fall back to the frontier max (the
    // pre-round-12 behavior, documented caveat); fresh roots (this
    // entry point always creates them) start at None.
    var hwmVar: Option[java.sql.Timestamp] =
      if (!BucketedTable.hasVersions(frontRoot)) None
      else persistedHwm(tableRoot).orElse(
        Option(BucketedTable.current(spark, frontRoot, frontEmpty, key)
          .agg(max(col(tsCol))).head().getTimestamp(0)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(land)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // event-time watermark: reject changes older than the bound
        // below the running high-water mark. ONE 1-row orchestration
        // aggregate per batch yields the rejection count, the accepted
        // max event time, AND the accepted keys' bucket ids (the claim
        // set every pruned read and commit below shares) — fusing the
        // bucket-id collect here keeps the per-batch job count at the
        // round-10 level despite three bucket-versioned artifacts.
        val cutoff = hwmVar.map(h =>
          new java.sql.Timestamp(h.getTime - maxLatenessSec * 1000L))
        val acceptedCase = cutoff
          .map(c => col(tsCol) >= lit(c))
          .getOrElse(lit(true))
        val stats = batch.agg(
          coalesce(sum(when(acceptedCase, lit(0L)).otherwise(lit(1L))),
            lit(0L)).as("late"),
          max(when(acceptedCase, col(tsCol))).as("mx"),
          collect_set(when(acceptedCase,
            BucketedTable.bucketOf(key))).as("bks")).head()
        val nLate = stats.getLong(0)
        val mxAccepted = Option(stats.getTimestamp(1))
        val affIds = stats.getSeq[Int](2).sorted
        val accepted = cutoff
          .map(c => batch.filter(col(tsCol) >= lit(c))).getOrElse(batch)
        if (nLate > 0)
          System.err.println(
            s"[ivm-ooo] batch $id: rejected $nLate change(s) beyond the " +
              s"$maxLatenessSec s lateness bound")
        val bestB = winner(accepted.select(chCols: _*))
        val affected = bestB.select(col(key)).distinct()
        // every per-batch read is bucket-PRUNED (round-10 verdict #6):
        // the affected keys' buckets are the only table/frontier files
        // opened, and the commits claim exactly those buckets.
        val tableAff = BucketedTable.currentBuckets(
          spark, tableRoot, snapshot, key, affIds)
        // frontier merge: per-key max over (previous frontier ∪ batch),
        // restricted to the affected buckets — for keys in those
        // buckets but not in the batch the single previous row wins, so
        // this IS the new full content of the claimed buckets. The
        // frontier commits FIRST; the change-log apply then reads the
        // committed files back (a lazy pruned read — no checkpoint job;
        // a crash between the frontier and table commits re-merges
        // idempotently on retry, per-key max being idempotent).
        BucketedTable.commitNext(frontRoot,
          winner(
            BucketedTable.currentBuckets(spark, frontRoot, frontEmpty,
                key, affIds)
              .unionByName(bestB)),
          affIds, key)
        val frontNow = BucketedTable.currentBuckets(
          spark, frontRoot, frontEmpty, key, affIds)
        // old state: the maintained table's rows for the affected keys;
        // new state: the merged frontier applied to the ORIGINAL
        // snapshot (a frontier winner fully determines the row — the
        // snapshot matters only for keys the winner does not delete).
        // newAffected is the ONE per-batch checkpoint: it embeds a full
        // snapshot scan + the change-log window and feeds THREE
        // consumers (rollup claim, rollup merge, table rewrite) —
        // unchecked, each consumer re-paid the snapshot scan (measured
        // +15% on the whole query).
        val oldAffected = tableAff.join(affected, Seq(key), "left_semi")
        val (newAffected, naRel) = graft.operators.Eager.tracked(
          Dedup.applyChangeLog(
            snapshot.join(affected, Seq(key), "left_semi"),
            frontNow.join(affected, Seq(key), "left_semi"),
            key, tsCol, seqCol, opCol, valueCols))
        // retry guard (round-12 review): the rollup merge is ADDITIVE —
        // a batch re-delivered after a crash between the rollup and
        // table commits must not re-merge its deltas (the frontier
        // merge and change-log apply are winner-recomputations,
        // idempotent under the re-run; the rollup is the one
        // non-idempotent step). The `_batch` marker commits atomically
        // with the rollup version.
        if (!newestBatchMarker(rollupRoot).contains(id)) {
          val deltas =
            Dedup.rollupDeltaFromStates(oldAffected, newAffected, group, value)
          // adaptive rollup claim, as in the ordered maintainer: a batch
          // already touching every key bucket is table-wide — claim all
          // group buckets and skip the precise delta-collect job; only a
          // sparse batch pays it (and gets a delta-sized rollup write)
          val gIds =
            if (affIds.size == BucketedTable.defaultBuckets)
              (0 until BucketedTable.defaultBuckets)
            else BucketedTable.bucketIds(deltas.select(col("grp")), "grp")
          BucketedTable.commitNext(rollupRoot,
            Dedup.mergeRollup(
              BucketedTable.currentBuckets(spark, rollupRoot, rollupBase,
                "grp", gIds),
              deltas),
            gIds, "grp", sidecars = batchMarker(id))
        }
        // the post-batch mark rides the TABLE commit as its `_hwm`
        // sidecar — written before the manifest and before any
        // auto-compaction (round-12 review: a post-commit sidecar write
        // targeted a directory the fold may have just wiped, and folds
        // now carry the newest sidecar forward). The table commits
        // LAST, so a restart re-seeds from exactly the batches whose
        // full application completed; the driver mark advances only
        // after the commit returns.
        val newHwm = (hwmVar.toSeq ++ mxAccepted.toSeq)
          .sortBy(t => (t.getTime, t.getNanos)).lastOption
        BucketedTable.commitNext(tableRoot,
          tableAff.join(affected, Seq(key), "left_anti")
            .unionByName(newAffected),
          affIds, key,
          sidecars = newHwm.toSeq.map(h =>
            "_hwm" -> s"${h.getTime} ${h.getNanos}".getBytes("UTF-8")))
        hwmVar = newHwm
        naRel()
        ()
      }
      .option("checkpointLocation", freshDir("ivm_ooo_ck"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Dedup.finishRollup(
      BucketedTable.current(spark, rollupRoot, rollupBase, "grp"))
  }

  /** Streaming near-dup probe against a MATERIALIZED band/set index
    * ([[graft.operators.NearDup.writeNearDupIndex]]) — the production
    * crawl-ingest pipeline: documents land as files, every micro-batch
    * probes the stored index (incoming→existing joins only, the batch
    * is shingled but the corpus never re-shingled), and each batch's
    * surviving keys append to the output. `maxFilesPerTrigger=1`
    * forces a genuine multi-batch run.
    *
    * Equals the one-shot [[graft.operators.NearDup.incrementalSurvivorsIndexed]]
    * on the same incoming set (spec-asserted, and the shared DuckDB
    * oracle): both forms compare incoming docs against the EXISTING
    * index only, so partitioning the incoming set into batches cannot
    * change any per-doc verdict and the union of per-batch survivors
    * is the batch answer. (Intra-incoming near-dups are out of scope
    * for both — that is [[graft.operators.NearDup.minhashPairs]] on
    * the accumulated corpus.)
    */
  /** Streaming ANN probe against a MATERIALIZED IVF index
    * ([[graft.operators.Similarity.writeIvfIndex]]) — the vector-side
    * twin of [[streamingNearDup]]: query embeddings land as files,
    * every micro-batch probes the STORED posting lists
    * ([[graft.operators.Similarity.ivfTopKIndexed]] — probe selection
    * against the stored centroids + posting-list join; the corpus is
    * never re-assigned), and per-batch top-k results are appended.
    * Each query's top-k depends only on the index and that query row,
    * so the union of per-batch results IS the batch probe — the same
    * per-row-independence argument as the near-dup stream, and why the
    * shared recompute oracle applies verbatim.
    */
  def streamingAnnProbe(spark: SparkSession, indexPath: String,
      queries: DataFrame, idCol: String, vecCol: String,
      nProbe: Int, k: Int): DataFrame = {
    val land = freshDir("ann_land")
    val out = freshDir("ann_out")
    queries.repartition(4).write.mode("overwrite").parquet(land)
    val schema = spark.read.parquet(land).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(land)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Similarity.ivfTopKIndexed(
            spark, indexPath, batch, idCol, vecCol, nProbe, k)
          .write.mode("append").parquet(out)
        ()
      }
      .option("checkpointLocation", freshDir("ann_ck"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(out)
  }

  /** CUMULATIVE streaming ANN ingest — [[streamingAnnProbe]]'s write
    * half, closing the audit→rebalance loop IN-STREAM (round-12
    * verdict #4: `q_ann_ivf_append_audit` detects posting-list drift
    * and `rebalanceIvfIndex` fixes it, but nothing fired the fix —
    * a crawl-scale ingest stream appended forever under frozen
    * centroids while recall decayed invisibly). Each micro-batch of
    * NEW vectors is appended to the stored index
    * ([[graft.operators.Similarity.appendToIvfIndex]], frozen-quantizer
    * assignment), whose per-list increments fold into a maintained
    * (cent_id, n) stats map — the audit signal, O(stats) per batch with
    * ZERO postings reads (round-13 verdict #2: the per-batch full-table
    * re-scan made total audit I/O quadratic in the stream length; now
    * the postings table is scanned once at stream start and once after
    * each rare rebalance, spec-asserted via a plan listener) — and the
    * moment any list exceeds `maxListSize` the split maintainer
    * ([[graft.operators.Similarity.rebalanceIvfIndex]]) fires, under
    * the SAME IndexStore staged-rewrite + cross-process commit lock as
    * the one-shot path — no reader ever observes a half-rebalanced
    * index. The stored index's file count (one file per touched list
    * per batch) is bounded by [[graft.operators.Similarity.compactIvfIndex]]
    * behind the same countFiles + `_OK` gate as the near-dup stream's
    * band compaction ([[streamingNearDupCumulative]]).
    *
    * Batches land one file per `batchOf` value and are consumed in
    * listing order (mFPT=1), so the trigger sequence — and therefore
    * which quantizer generation each later batch is assigned against —
    * is deterministic and equals the sequential hand-driven fold of
    * (append, audit, maybe-rebalance) over the same batches
    * (spec-asserted in SimilaritySpec).
    *
    * Returns the number of in-stream rebalances fired.
    */
  def streamingAnnIngest(spark: SparkSession, indexPath: String,
      newVectors: DataFrame, batchOf: org.apache.spark.sql.Column,
      idCol: String, vecCol: String, maxListSize: Long,
      subIdBase: Long = 1000000L, compactPastFiles: Int = 512): Long = {
    require(maxListSize >= 2,
      s"streamingAnnIngest: maxListSize must be ≥ 2, got $maxListSize")
    val land = freshDir("ann_ingest_land")
    landBatchFiles(newVectors.withColumn("__b", batchOf), land)
    val schema = spark.read.parquet(s"$land/b0000.parquet").schema
    val nRebalances = new java.util.concurrent.atomic.AtomicLong(0)
    // O(stats) audit state (round-13 verdict #2): per-list sizes are
    // seeded from ONE postings scan here, then maintained from each
    // batch's own increments — the per-batch audit reads no postings
    // files, so total audit I/O is O(stream), not O(stream × index).
    // A rebalance rewrites list membership wholesale; it re-seeds from
    // one scan (rebalances are rare by construction — each one doubles
    // the oversized list's bucket count).
    def seedStats(): scala.collection.mutable.Map[Long, Long] =
      scala.collection.mutable.Map.from(
        spark.read.parquet(s"$indexPath/postings")
          .groupBy(col("cent_id").cast("long").as("cent_id"))
          .agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getLong(0), r.getLong(1))))
    var listSizes = seedStats()
    var lastCompacted = 0L
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(land)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val incr = graft.operators.Similarity.appendToIvfIndex(spark, batch,
          idCol, vecCol, indexPath)
        incr.foreach { case (c, n) =>
          listSizes.update(c, listSizes.getOrElse(c, 0L) + n)
        }
        // audit: the largest posting list right now — a fold over the
        // maintained stats map, zero postings I/O
        val maxList = if (listSizes.isEmpty) 0L else listSizes.values.max
        if (maxList > maxListSize) {
          val nSplit = graft.operators.Similarity.rebalanceIvfIndex(
            spark, indexPath, maxListSize, subIdBase = subIdBase)
          if (nSplit > 0) {
            nRebalances.incrementAndGet()
            System.err.println(
              s"[ann-ingest] in-stream rebalance: $nSplit list(s) split " +
                s"(max $maxList > $maxListSize)")
            listSizes = seedStats()
          }
        }
        // bound the stored index's file count (appends land one file
        // per touched list per batch): same countFiles + `_OK` gate as
        // the cumulative near-dup stream's band compaction — an
        // un-gated path belongs to a caller-managed build. Compaction
        // preserves row content, so the stats map carries over. The
        // 2× hysteresis over the last post-compaction count keeps a
        // gate set near the index's one-file-per-list floor from
        // re-compacting every batch for a handful of new files.
        val nFiles = graft.operators.IndexStore.countFiles(
          new java.io.File(s"$indexPath/postings"))
        if (nFiles > math.max(compactPastFiles.toLong, 2L * lastCompacted) &&
            graft.operators.IndexStore.okAt(
              new java.io.File(indexPath)).exists()) {
          val (nb, na) =
            graft.operators.Similarity.compactIvfIndex(spark, indexPath)
          lastCompacted = na
          System.err.println(
            s"[ann-ingest] in-stream postings compaction: $nb -> $na files")
        }
        ()
      }
      .option("checkpointLocation", freshDir("ann_ingest_ck"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    nRebalances.get()
  }

  /** Measured MICRO-BATCH FLOOR (round-12 verdict #5): the wall time an
    * `nBatches`-batch AvailableNow stream takes through the same
    * trigger + checkpoint + sink machinery when every batch carries NO
    * rows — the fixed per-batch scheduling/commit cost that inflates
    * differently per host epoch and has repeatedly masqueraded as a
    * plan regression in cross-round bench disputes. Bench subtracts
    * this channel per streaming query so `BENCH_r{N}` can report
    * plan-attributable time.
    *
    * `commitPerBatch = false` prices the plain foreachBatch→parquet
    * sink ([[runToCompletionInner]]'s shape); `true` additionally pays
    * one empty [[BucketedTable]] commit per batch (write job + sidecar
    * + manifest under the cross-process lock) — the IVM maintainers'
    * per-batch durability floor. Batches are landed one file each and
    * consumed with mFPT=1, exactly like the operators being floored;
    * the in-stream filter keeps the batch PLAN empty so no operator
    * work is priced, only machinery.
    */
  def streamFloor(spark: SparkSession, nBatches: Int,
      commitPerBatch: Boolean): Double = {
    require(nBatches >= 1, s"streamFloor: nBatches must be ≥ 1, got $nBatches")
    import spark.implicits._
    val land = freshDir("floor_land")
    landBatchFiles(
      (0 until nBatches).map(b => (b.toLong, b.toLong)).toDF("v", "__b"),
      land)
    val out = freshDir("floor_out")
    val commitRoot = freshDir("floor_commit")
    val schema = spark.read.parquet(s"$land/b0000.parquet").schema
    val t0 = System.nanoTime()
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(land)
      .filter(col("v") < 0) // empty every batch: machinery only
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (commitPerBatch)
          BucketedTable.commitNext(commitRoot,
            batch.withColumnRenamed("v", "k"), Seq(0), "k",
            sidecars = Seq(("_hwm", Array.empty[Byte])))
        else batch.write.mode("append").parquet(out)
        ()
      }
      .option("checkpointLocation", freshDir("floor_ck"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (System.nanoTime() - t0) / 1e9
  }

  def streamingNearDup(spark: SparkSession, indexPath: String,
      incoming: DataFrame, n: Int, k: Int, threshold: Double): DataFrame = {
    val land = freshDir("neardup_land")
    val out = freshDir("neardup_out")
    incoming.repartition(4).write.mode("overwrite").parquet(land)
    val schema = spark.read.parquet(land).schema
    // the stored index is IMMUTABLE for the whole run (this is the
    // probe-only stream) yet every micro-batch joins against it —
    // persist both halves once outside the loop, HASH-PARTITIONED AND
    // SORTED on their probe-join keys (round-10 verdict #5): the
    // cached frames advertise that partitioning/ordering, so each
    // micro-batch's sort-merge join shuffles and sorts only the
    // batch-sized side instead of re-exchanging the whole index per
    // batch — the partitioned-index shape that matters when the index
    // is TB-sized and batches are not
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bandsE = spark.read.parquet(s"$indexPath/bands").persist(lvl)
    val setsE = spark.read.parquet(s"$indexPath/sets").persist(lvl)
    try {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.NearDup.incrementalSurvivorsAgainst(
              bandsE, setsE, batch, col("doc_id"), col("text"),
              n, k, threshold)
            .write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", freshDir("neardup_ck"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the result is file-backed — safe to read after the unpersist
      spark.read.parquet(out)
    } finally { bandsE.unpersist(); setsE.unpersist(); () }
  }

  /** Streaming quality gate: documents as a file stream, the Gopher
    * rule features + verdict evaluated IN THE SCAN STAGE of each
    * micro-batch (pure column work — no state, no watermark), survivors
    * appended. The curation counterpart of the warehouse sink: at crawl
    * scale the quality cut happens on ingest, before anything else pays
    * to touch the rejected docs. Stateless ⇒ batch/stream results are
    * identical and the batch Gopher oracle applies with a passes filter.
    */
  def streamingQualityGate(spark: SparkSession, dir: String,
      minWords: Int, maxWords: Int,
      requireStopwords: Boolean = true): DataFrame = {
    implicit val s: SparkSession = spark
    val raw = spark.read.parquet(s"$dir/documents.parquet").schema
    val src = spark.readStream.schema(raw)
      .option("pathGlobFilter", "documents*.parquet")
      .parquet(dir)
    // requireStopwords=false drops only the English-function-word rule —
    // the right dial for non-English or synthetic corpora, where that
    // one rule rejects everything and the gate would be vacuous
    val gate =
      if (requireStopwords) col("passes")
      else col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
        col("symbol_ratio") < 0.1 && col("bullet_ratio") < 0.9 &&
        col("alpha_word_frac") >= 0.8
    val gated = graft.operators.TextAnalysis
      .gopherRules(src, col("doc_id"), col("text"), minWords, maxWords)
      .filter(gate)
    runToCompletion(gated, OutputMode.Append(), "stream_quality")
  }

  /** CUMULATIVE streaming near-dup — [[streamingNearDup]] plus the
    * write half: each micro-batch's SURVIVORS are appended to the index
    * ([[graft.operators.NearDup.appendToNearDupIndex]]) before the next
    * batch probes, so the stream also dedups against ITSELF across
    * batches — the real crawl loop, where yesterday's accepted pages are
    * today's existing corpus. The caller owns `indexPath` and must pass
    * a copy it is willing to have mutated.
    *
    * Batches are landed as ONE FILE PER DISTINCT `batchOf` VALUE, named
    * in ascending order, and consumed with `maxFilesPerTrigger=1` — the
    * file stream processes paths in listing order, so batch order (and
    * therefore which member of a cross-batch dup pair survives: the
    * earlier one) is deterministic. Equality with the sequential batch
    * fold is spec-asserted.
    *
    * In-stream small-file compaction (round-11 verdict #6): each
    * accepted batch appends one small parquet file per band, so a long
    * crawl stream grows the stored index's file count without bound —
    * the same O(batches) listing cost BucketedTable's version
    * auto-compaction bounds. When the band table exceeds
    * `compactPastFiles` files (and the index is `_OK`-gated), the
    * append path compacts it in place behind the existing
    * [[graft.operators.NearDup.compactNearDupIndex]] staged-swap
    * contract — row content identical, so neither this stream's
    * remaining probes (which join the in-memory fold, not the disk)
    * nor any later reader can observe a difference (spec-asserted).
    * Lost-block recovery note: the fold's persisted base pins the
    * PRE-compaction file list, so a recompute after block loss fails
    * loudly on the swapped-away files instead of silently
    * double-counting appends — at cluster scale use a replicated
    * storage level or restart the stream from the compacted artifact.
    */
  def streamingNearDupCumulative(spark: SparkSession, indexPath: String,
      incoming: DataFrame, batchOf: org.apache.spark.sql.Column,
      n: Int, k: Int, threshold: Double,
      compactPastFiles: Int = 512): DataFrame = {
    val land = freshDir("neardup_cum_land")
    val out = freshDir("neardup_cum_out")
    landBatchFiles(incoming.withColumn("__b", batchOf), land)
    val schema = spark.read.parquet(s"$land/b0000.parquet").schema
    // Fold only the DELTA bands (round-10 verdict #5): the disk index
    // still receives every batch's appended rows (the documented
    // mutation contract), but the PROBE no longer re-reads the whole
    // mutated index per micro-batch — it joins against a persisted
    // running copy (initial index ∪ the per-batch delta frames, each
    // persisted once). Deltas' lineage is the landed batch file, so
    // persist (recompute-safe) rather than checkpoint; predecessors
    // are unpersisted only after the successor union materializes in
    // the next probe.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var bandsCur = spark.read.parquet(s"$indexPath/bands").persist(lvl)
    var setsCur = spark.read.parquet(s"$indexPath/sets").persist(lvl)
    val pinned = scala.collection.mutable.ArrayBuffer(bandsCur, setsCur)
    // per-batch delta checkpoints stay pinned until the stream is done:
    // the running union of batch i+1 references batch i's delta, and a
    // released local checkpoint can never be recomputed
    val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    try {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(land)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // probe + survivors' delta from ONE shingle aggregation
          // (probeAndDelta) — the loop previously re-shingled the
          // survivors a second time to compute the append rows
          val (surv, dB, dS, rel) = graft.operators.NearDup.probeAndDelta(
            bandsCur, setsCur, batch, col("doc_id"), col("text"),
            n, k, threshold)
          releases += rel
          surv.write.mode("append").parquet(out)
          // disk append preserves the mutation contract; the same
          // checkpointed deltas feed the in-memory fold below
          dB.write.mode("append").partitionBy("band")
            .parquet(s"$indexPath/bands")
          dS.write.mode("append").parquet(s"$indexPath/sets")
          bandsCur = bandsCur.unionByName(
            dB.select(bandsCur.columns.map(col): _*))
          setsCur = setsCur.unionByName(
            dS.select(setsCur.columns.map(col): _*))
          // bound the stored index's file count (see object doc above):
          // compaction is gated on `_OK` — an un-gated path belongs to
          // a caller-managed build and is theirs to compact
          if (graft.operators.IndexStore.countFiles(
                new java.io.File(s"$indexPath/bands")) > compactPastFiles &&
              graft.operators.IndexStore.okAt(
                new java.io.File(indexPath)).exists()) {
            val (nb, na) =
              graft.operators.NearDup.compactNearDupIndex(spark, indexPath)
            System.err.println(
              s"[neardup-cum] in-stream band compaction: $nb -> $na files")
          }
          ()
        }
        .option("checkpointLocation", freshDir("neardup_cum_ck"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the result is file-backed — safe to read after the unpersists
      spark.read.parquet(out)
    } finally {
      pinned.foreach(_.unpersist())
      releases.foreach(_.apply())
      ()
    }
  }

  /** Streaming → warehouse: foreachBatch applying the idempotent
    * anti-join append per micro-batch (the reference's S3→Databricks
    * handoff collapsed into one exactly-once-ish loop; K2+K3).
    */
  def streamToWarehouse(spark: SparkSession, dir: String, outPath: String,
      keys: Seq[String], checkpoint: Option[String] = None): Unit = {
    val q = eventsStream(spark, dir)
      .select("event_id", "user_id", "ts", "event_type", "value")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.Sinks.appendNew(batch, outPath, keys); ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint.getOrElse(
        java.nio.file.Files.createTempDirectory("graft_ck").toString))
      .start()
    q.awaitTermination()
  }

  /** Stateful per-key forward fill via flatMapGroupsWithState — the one
    * genuinely hard streaming op in the reference's surface (per-symbol
    * gap fill, transformation.py:213, as a stream). State = last seen
    * non-null value per key, carried across micro-batches; within a batch
    * events are sorted by event time before filling.
    */
  /** [[streamingFfill]] re-expressed on Spark 4's `transformWithState`
    * (the successor to flatMapGroupsWithState): typed [[FfillProcessor]]
    * with named ValueState, running on the RocksDB state-store provider
    * transformWithState requires — which is also the scale story: state
    * lives off-heap with changelog checkpointing instead of in executor
    * heap snapshots. Same output as [[streamingFfill]]; shares its
    * oracle. The provider conf is restored afterwards so other queries
    * in the session keep their configured store.
    */
  def streamingFfillTws(spark: SparkSession, dir: String, nullEvery: Int): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = eventsStream(spark, dir)
        .withColumn("value",
          when(col("event_id") % nullEvery === 0, lit(null)).otherwise(col("value")))
        .select("event_id", "user_id", "ts", "value").as[FillEvent]
      val filled = src.groupByKey(_.user_id)
        .transformWithState(new FfillProcessor, TimeMode.None(), OutputMode.Append())
      runToCompletion(filled.toDF(), OutputMode.Append(), "stream_ffill_tws")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  def streamingFfill(spark: SparkSession, dir: String, nullEvery: Int): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val src = eventsStream(spark, dir)
      .withColumn("value",
        when(col("event_id") % nullEvery === 0, lit(null)).otherwise(col("value")))
      .select("event_id", "user_id", "ts", "value").as[FillEvent]
    val filled = src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, it: Iterator[FillEvent], state: GroupState[Double]) => {
          var last: Option[Double] = state.getOption
          // sort by full µs precision: getTime alone is ms and would tie
          val out = it.toSeq.sortBy(e =>
            (e.ts.toInstant.getEpochSecond * 1000000000L + e.ts.toInstant.getNano,
              e.event_id)).map { e =>
            val v = e.value.orElse(last)
            if (e.value.isDefined) last = e.value
            FilledEvent(e.event_id, e.user_id, e.ts, v)
          }
          last.foreach(state.update)
          out.iterator
        })
    runToCompletion(filled.toDF(), OutputMode.Append(), "stream_ffill")
  }
}
