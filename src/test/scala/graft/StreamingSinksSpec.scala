package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.Sinks
import graft.streaming.Streaming

class StreamingSinksSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("streamingCandles equals the batch aggregation") {
    val streamed = Streaming.streamingCandles(spark, sf)
      .orderBy("user_id", "day").collect()
    val batch = graft.sources.Sources.table(spark, sf, "events")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,10)")).cast("double").as("vsum"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      .orderBy("user_id", "day").collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("outer interval join null-extends exactly the watermark-closed views") {
    val out = Streaming.streamingIntervalJoinOuter(spark, sf).cache()
    val ev = graft.sources.Sources.table(spark, sf, "events")
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("q_event_id"), col("user_id").as("q_user_id"),
        col("ts").as("q_ts"))
    val cond = col("user_id") === col("q_user_id") &&
      col("q_ts") >= col("ts") && col("q_ts") < col("ts") + expr("INTERVAL 1 HOUR")
    // final watermark = min of each side's max event time, minus 1h;
    // a view is provably unmatched once view.ts + 1h < watermark
    val wmMs = math.min(
      v.agg(max("ts")).head().getTimestamp(0).getTime,
      p.agg(max("q_ts")).head().getTimestamp(0).getTime) - 3600 * 1000L
    val expectNull = v.join(p, cond, "left_anti")
      .filter(unix_millis(col("ts")) + 3600 * 1000L < wmMs)
      .select("event_id").as[Long].collect().toSet
    val gotNull = out.filter(col("q_event_id").isNull)
      .select("event_id").as[Long].collect().toSet
    assert(gotNull === expectNull)
    assert(out.filter(col("q_event_id").isNotNull).count() === v.join(p, cond).count())
  }

  test("streamingFfill carries last non-null value per user in ts order") {
    val got = Streaming.streamingFfill(spark, sf, nullEvery = 7)
    // every null must be filled unless it's a leading null for its user
    val filled = got.filter(col("value_filled").isNull).count()
    val leadingNulls = graft.sources.Sources.table(spark, sf, "events")
      .withColumn("v", when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
      .withColumn("any_before", count(col("v")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy("ts", "event_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .filter(col("any_before") === 0).count()
    assert(filled === leadingNulls)
  }

  test("transformWithState ffill equals the flatMapGroupsWithState ffill row-for-row") {
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("user_id", "ts", "event_id")
      .select("event_id", "user_id", "value_filled")
      .as[(Long, Long, Option[Double])].collect().toSeq
    val viaFmgws = rows(Streaming.streamingFfill(spark, sf, nullEvery = 7))
    val viaTws = rows(Streaming.streamingFfillTws(spark, sf, nullEvery = 7))
    assert(viaTws === viaFmgws)
    assert(viaTws.nonEmpty)
  }

  test("streamToWarehouse lands events idempotently via foreachBatch") {
    val out = Files.createTempDirectory("graft_wh").toString + "/events"
    Streaming.streamToWarehouse(spark, sf, out, Seq("event_id"))
    val n1 = spark.read.parquet(out).count()
    assert(n1 === 1000) // all sf0.001 events landed
    // replay the whole stream from scratch — anti-join append adds nothing
    Streaming.streamToWarehouse(spark, sf, out, Seq("event_id"))
    assert(spark.read.parquet(out).count() === n1)
  }

  test("checkpointed stream resumes incrementally: only new files process") {
    // landing dir we can append to (testdata itself is read-only)
    val land = Files.createTempDirectory("graft_land").toString
    val ck = Files.createTempDirectory("graft_ckpt").toString
    val out = Files.createTempDirectory("graft_out").toString + "/t"
    Files.copy(java.nio.file.Path.of(s"$sf/events.parquet"),
      java.nio.file.Path.of(s"$land/events.parquet"))
    Streaming.streamToWarehouse(spark, land, out, Seq("event_id"), Some(ck))
    assert(spark.read.parquet(out).count() === 1000)
    // a second file lands: same rows but shifted ids (new keys). Read the
    // landed file RAW (no ts normalization) so the rewrite inherits the
    // landing dir's physical ts layout whatever it is — the stream's
    // sniffed schema must keep matching across files.
    spark.read.parquet(s"$land/events.parquet")
      .withColumn("event_id", col("event_id") + 1000000)
      .coalesce(1).write.parquet(s"$land/batch2")
    val f2 = new java.io.File(s"$land/batch2").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(f2.toPath, java.nio.file.Path.of(s"$land/events2.parquet"))
    // resume with the SAME source config + checkpoint: the seen-file log
    // skips events.parquet, only events2.parquet processes
    Streaming.streamToWarehouse(spark, land, out, Seq("event_id"), Some(ck))
    assert(spark.read.parquet(out).count() === 2000) // old file not re-landed
  }

  test("streamingCdc equals the batch applyChangeLog across micro-batches") {
    import graft.operators.Dedup
    val snap = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    def mkts(x: String) = java.sql.Timestamp.valueOf(x)
    // out-of-order log: late D for k=1, D-then-U resurrect for k=2,
    // insert k=9 — split across 4 files → 4 micro-batches
    val changes = Seq(
      (1L, mkts("2024-02-01 00:00:00"), 1L, "U", 11.0),
      (1L, mkts("2024-03-01 00:00:00"), 1L, "D", 0.0),
      (2L, mkts("2024-02-01 00:00:00"), 1L, "D", 0.0),
      (2L, mkts("2024-03-01 00:00:00"), 1L, "U", 22.0),
      (9L, mkts("2024-01-15 00:00:00"), 1L, "I", 90.0)
    ).toDF("k", "ts", "seq", "op", "v")
    val got = Streaming.streamingCdc(spark, snap, changes,
        "k", "ts", "seq", "op", Seq("v"))
      .orderBy("k").as[(Long, Double)].collect().toSeq
    val want = Dedup.applyChangeLog(snap, changes, "k", "ts", "seq", "op", Seq("v"))
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(got === want)
    assert(got === Seq(2L -> 22.0, 3L -> 30.0, 9L -> 90.0))
  }

  test("streamingNearDup equals the batch indexed probe across micro-batches") {
    import graft.operators.NearDup
    val d = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 120).select("doc_id", "text")
    val ws = filter(split(col("text"), "\\s+"), w => w =!= "")
    // even ids arrive truncated (near-dups → dropped), odd ids
    // word-reversed (novel → survive) — the q_dedup_incremental fixture
    val incoming = d.select((col("doc_id") + 1000000).as("doc_id"),
      when(col("doc_id") % 2 === 0,
        col("text").substr(lit(1), length(col("text")) - 10))
        .otherwise(array_join(reverse(ws), " ")).as("text"))
    val idxDir = java.nio.file.Files.createTempDirectory("neardup_stream_idx")
    try {
      NearDup.writeNearDupIndex(d, col("doc_id"), col("text"),
        n = 5, k = 8, path = idxDir.toString)
      val batch = NearDup.incrementalSurvivorsIndexed(spark, idxDir.toString,
          incoming, col("doc_id"), col("text"), n = 5, k = 8, threshold = 0.5)
        .as[Long].collect().toSet
      val stream = Streaming.streamingNearDup(spark, idxDir.toString,
          incoming, n = 5, k = 8, threshold = 0.5)
        .as[Long].collect().toSet
      assert(stream === batch)
      // both dropped something and kept something (non-vacuous fixture)
      assert(stream.nonEmpty && stream.size < incoming.count())
    } finally {
      val s = java.nio.file.Files.walk(idxDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("cumulative streaming near-dup dedups across its own batches") {
    import graft.operators.NearDup
    val d = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val existing = d.filter(col("doc_id") < 40)
    // batch 0: novel docs (ids 40-79); batch 1: near-copies of batch 0
    // (ids +1000, 10 chars cut) — novel vs the ORIGINAL index, dups
    // only against batch 0's accepted rows
    val batch0 = d.filter(col("doc_id") >= 40 && col("doc_id") < 80)
    val batch1 = batch0.select((col("doc_id") + 1000).as("doc_id"),
      col("text").substr(lit(1), length(col("text")) - 10).as("text"))
    val incoming = batch0.unionByName(batch1)
    val idxDir = java.nio.file.Files.createTempDirectory("neardup_cum_idx")
    try {
      NearDup.writeNearDupIndex(existing, col("doc_id"), col("text"),
        n = 5, k = 8, path = idxDir.toString)
      // batch ids 2 and 10, not 0 and 1: numeric batch values must sort
      // NUMERICALLY (2 before 10). A lexicographic sort ("10" < "2")
      // would process the copies first, inverting which member of every
      // cross-batch dup pair survives — this fixture then fails loudly.
      val got = Streaming.streamingNearDupCumulative(spark, idxDir.toString,
          incoming, when(col("doc_id") < 1000, 2).otherwise(10),
          n = 5, k = 8, threshold = 0.5)
        .as[Long].collect().toSet
      // reference: the sequential greedy fold — probe batch 0 against
      // the original corpus, extend the corpus with its survivors,
      // probe batch 1 against the extension
      val surv0 = NearDup.incrementalSurvivors(existing, batch0,
          col("doc_id"), col("text"), n = 5, k = 8, threshold = 0.5)
        .as[Long].collect().toSet
      val kept0 = batch0.filter(col("doc_id").isin(surv0.toSeq: _*))
      val surv1 = NearDup.incrementalSurvivors(existing.unionByName(kept0),
          batch1, col("doc_id"), col("text"), n = 5, k = 8, threshold = 0.5)
        .as[Long].collect().toSet
      assert(got === (surv0 ++ surv1))
      // the cumulative append must matter: most of batch 1 (near-copies
      // of accepted batch-0 docs) is dropped, which a non-cumulative
      // probe against the original index would have kept
      assert(surv1.size < 10,
        s"batch-1 copies should mostly hit batch-0's appended index rows, " +
          s"but ${surv1.size} of 40 survived")
    } finally {
      val s = java.nio.file.Files.walk(idxDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("in-stream band compaction: identical survivors, identical index reads, fewer files") {
    import graft.operators.{IndexStore, NearDup}
    val d = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val existing = d.filter(col("doc_id") < 40)
    val batch0 = d.filter(col("doc_id") >= 40 && col("doc_id") < 80)
    val batch1 = batch0.select((col("doc_id") + 1000).as("doc_id"),
      col("text").substr(lit(1), length(col("text")) - 10).as("text"))
    val incoming = batch0.unionByName(batch1)
    val root = java.nio.file.Files.createTempDirectory("neardup_instream")
    try {
      // one pristine gated build, two mutable run copies
      val pristine = new java.io.File(root.toFile, "pristine").getPath
      IndexStore.ensure(pristine)(stage => NearDup.writeNearDupIndex(
        existing, col("doc_id"), col("text"), n = 5, k = 8, stage))
      def copyRec(from: java.io.File, to: java.io.File): Unit = {
        if (from.isDirectory) { to.mkdirs()
          from.listFiles().foreach(f => copyRec(f, new java.io.File(to, f.getName)))
        } else { java.nio.file.Files.copy(from.toPath, to.toPath); () }
      }
      val plain = new java.io.File(root.toFile, "plain").getPath
      val compacted = new java.io.File(root.toFile, "compacted").getPath
      copyRec(new java.io.File(pristine), new java.io.File(plain))
      copyRec(new java.io.File(pristine), new java.io.File(compacted))
      def run(idx: String, past: Int) = Streaming.streamingNearDupCumulative(
          spark, idx, incoming, when(col("doc_id") < 1000, 2).otherwise(10),
          n = 5, k = 8, threshold = 0.5, compactPastFiles = past)
        .as[Long].collect().toSet
      val gotPlain = run(plain, Int.MaxValue) // never compacts
      val gotCompacted = run(compacted, 1)    // compacts after EVERY batch
      assert(gotCompacted === gotPlain,
        "in-stream compaction changed the stream's survivor verdicts")
      // the stored artifacts read identically (compaction moves rows
      // between files, never changes them) ...
      def bands(idx: String) = spark.read.parquet(s"$idx/bands")
        .select("band", "band_val", "key").as[(Int, String, Long)].collect()
        .toSeq.sorted
      assert(bands(compacted) === bands(plain))
      // ... and the compacted copy holds fewer band files
      def nFiles(idx: String) =
        IndexStore.countFiles(new java.io.File(s"$idx/bands"))
      assert(nFiles(compacted) < nFiles(plain),
        s"compaction did not shrink files: ${nFiles(compacted)} vs ${nFiles(plain)}")
      // a post-stream probe of both indexes gives identical verdicts
      val probe = d.filter(col("doc_id") >= 80 && col("doc_id") < 100)
      def probeSet(idx: String) = NearDup.incrementalSurvivorsIndexed(
          spark, idx, probe, col("doc_id"), col("text"),
          n = 5, k = 8, threshold = 0.5)
        .as[Long].collect().toSet
      assert(probeSet(compacted) === probeSet(plain))
    } finally {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("streamingIncrementalRollup equals the one-shot apply across batch splits") {
    import graft.operators.Dedup
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val snap = Seq((1L, 1L, 10.0), (2L, 1L, 11.0), (3L, 2L, 20.0),
      (4L, 3L, 30.0)).toDF("k", "g", "v")
    // commit-ordered log: batch 0 (jan) inserts + updates; batch 1
    // (mar) re-updates k=1 (so batch 1's delta must be computed
    // against batch 0's MAINTAINED table, not the snapshot), moves
    // k=3 to group 1, and deletes k=4 (group 3 empties)
    val changes = Seq(
      (1L, ts("2024-01-10 00:00:00"), 1L, "U", 1L, 15.0),
      (9L, ts("2024-01-20 00:00:00"), 1L, "I", 9L, 90.0),
      (1L, ts("2024-03-01 00:00:00"), 1L, "U", 1L, 17.0),
      (3L, ts("2024-03-02 00:00:00"), 1L, "U", 1L, 21.0),
      (4L, ts("2024-03-03 00:00:00"), 1L, "D", 3L, 30.0)
    ).toDF("k", "ts", "seq", "op", "g", "v")
    val streamed = Streaming.streamingIncrementalRollup(spark, snap, changes,
        batchOf = when(month(col("ts")) === 1, 0).otherwise(1),
        "k", "ts", "seq", "op", Seq("g", "v"), col("g"), col("v"))
      .orderBy("grp").as[(Long, Long, Double)].collect()
    val oneShot = Dedup.incrementalRollup(snap, changes, "k", "ts", "seq",
        "op", Seq("g", "v"), col("g"), col("v"))
      .orderBy("grp").as[(Long, Long, Double)].collect()
    assert(streamed.toSeq === oneShot.toSeq)
    // hand-checked: group 1 = {k1=17, k2=11, k3=21}, group 9 = {k9=90};
    // groups 2 and 3 emptied by the move and the delete
    assert(streamed.toSeq === Seq((1L, 3L, 49.0), (9L, 1L, 90.0)))
  }

  test("out-of-order IVM: late batch with an EARLIER seq for an updated key converges") {
    import graft.operators.Dedup
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val snap = Seq((1L, 1L, 10.0), (2L, 1L, 11.0), (3L, 2L, 20.0),
      (4L, 3L, 30.0)).toDF("k", "g", "v")
    // the round-9 verdict fixture: k=1 is updated to 17.0 (March, seq 2)
    // in batch 0, then batch 1 delivers an EARLIER January change
    // (seq 1, v=15.0) for the SAME already-updated key — the frontier
    // must keep March's 17.0. Batch 1 also carries a genuinely novel
    // insert and a delete that must still apply.
    val changes = Seq(
      (1L, ts("2024-03-01 00:00:00"), 2L, "U", 1L, 17.0),
      (3L, ts("2024-03-02 00:00:00"), 1L, "U", 1L, 21.0),
      // late batch (delivered second, event time earlier):
      (1L, ts("2024-01-10 00:00:00"), 1L, "U", 1L, 15.0),
      (9L, ts("2024-01-20 00:00:00"), 1L, "I", 9L, 90.0),
      (4L, ts("2024-01-25 00:00:00"), 1L, "D", 3L, 30.0)
    ).toDF("k", "ts", "seq", "op", "g", "v")
    val streamed = Streaming.streamingIncrementalRollupOutOfOrder(spark,
        snap, changes,
        batchOf = when(month(col("ts")) === 3, 0).otherwise(1),
        "k", "ts", "seq", "op", Seq("g", "v"), col("g"), col("v"),
        maxLatenessSec = 365L * 24 * 3600)
      .orderBy("grp").as[(Long, Long, Double)].collect()
    val oneShot = Dedup.incrementalRollup(snap, changes, "k", "ts", "seq",
        "op", Seq("g", "v"), col("g"), col("v"))
      .orderBy("grp").as[(Long, Long, Double)].collect()
    assert(streamed.toSeq === oneShot.toSeq)
    // hand-checked: k1 keeps 17.0 (late 15.0 loses the frontier),
    // group 1 = {17, 11, 21}, group 9 = {90}; groups 2 and 3 empty
    assert(streamed.toSeq === Seq((1L, 3L, 49.0), (9L, 1L, 90.0)))
  }

  test("out-of-order IVM: changes beyond the lateness bound are rejected, not applied") {
    import graft.operators.Dedup
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val snap = Seq((1L, 1L, 10.0), (2L, 1L, 11.0)).toDF("k", "g", "v")
    val accepted = Seq(
      (1L, ts("2024-03-01 00:00:00"), 1L, "U", 1L, 17.0)
    ).toDF("k", "ts", "seq", "op", "g", "v")
    val lateRejected = Seq(
      // 50 days behind the 2024-03-01 high-water mark, bound is 30 days
      (2L, ts("2024-01-10 00:00:00"), 1L, "U", 1L, 99.0)
    ).toDF("k", "ts", "seq", "op", "g", "v")
    val streamed = Streaming.streamingIncrementalRollupOutOfOrder(spark,
        snap, accepted.unionByName(lateRejected),
        batchOf = when(month(col("ts")) === 3, 0).otherwise(1),
        "k", "ts", "seq", "op", Seq("g", "v"), col("g"), col("v"),
        maxLatenessSec = 30L * 24 * 3600)
      .orderBy("grp").as[(Long, Long, Double)].collect()
    // only the accepted change applies: k1 → 17, k2 keeps 11
    val recomputeAcceptedOnly = Dedup.incrementalRollup(snap, accepted,
        "k", "ts", "seq", "op", Seq("g", "v"), col("g"), col("v"))
      .orderBy("grp").as[(Long, Long, Double)].collect()
    assert(streamed.toSeq === recomputeAcceptedOnly.toSeq)
    assert(streamed.toSeq === Seq((1L, 2L, 28.0)))
  }

  test("streamingSessions merges events within the 30-minute gap") {
    val got = Streaming.streamingSessions(spark, sf)
    assert(got.count() > 0)
    // no two sessions of the same user may overlap or touch within gap
    val sess = got.orderBy("user_id", "s_start").collect()
      .groupBy(_.getLong(0)).values
    sess.foreach { rows =>
      rows.sliding(2).foreach {
        case Array(a, b) =>
          assert(!b.getTimestamp(1).before(a.getTimestamp(2))) // start >= prev end
        case _ =>
      }
    }
  }

  test("writePartitioned lays out hive-style date partitions") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Sinks.writePartitioned(df, dir, "2024-06-01")
    val back = spark.read.parquet(dir)
    assert(back.count() === 2)
    assert(back.select("ingestion_date").distinct().as[java.sql.Date].head().toString
      === "2024-06-01")
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("ingestion_date=")))
  }

  test("appendNew propagates a corrupt-table read failure (no silent re-append)") {
    val dir = Files.createTempDirectory("graft_corrupt").toString + "/t"
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Sinks.appendNew(batch, dir, Seq("id")) === 2L)
    // corrupt the table: truncate the parquet footer
    val pq = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.writeString(pq.toPath, "this is not parquet")
    // K2 contract: a failed existing-table read must THROW — substituting
    // an empty frame would re-append the whole batch and silently break
    // idempotency
    assertThrows[Exception] { Sinks.appendNew(batch, dir, Seq("id")) }
  }

  test("compact shrinks file count and preserves every row") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    // simulate many tiny appends: 40 single-partition writes
    val df = (1 to 400).map(i => (i.toLong, s"row_$i")).toDF("id", "v")
    df.repartition(40).write.parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles === 40)
    val before = spark.read.parquet(dir).orderBy("id").collect().toSeq
    val n = Sinks.compact(spark, dir) // 40 tiny files ≪ one 128MB target
    assert(n === 1)
    assert(parquetFiles === 1)
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq === before)
  }

  test("appendNew is idempotent across reloads") {
    val dir = Files.createTempDirectory("graft_append").toString + "/t"
    val batch1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Sinks.appendNew(batch1, dir, Seq("id")) === 2L)
    assert(Sinks.appendNew(batch1, dir, Seq("id")) === 0L) // same batch again
    val batch2 = Seq((2L, "b"), (3L, "c")).toDF("id", "v")
    assert(Sinks.appendNew(batch2, dir, Seq("id")) === 1L) // only id=3
    assert(spark.read.parquet(dir).count() === 3)
  }

  test("appendNew throws when a key column is absent from the table") {
    val dir = Files.createTempDirectory("graft_append_key").toString + "/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    // an explicit-schema read of the table would return NULL for the
    // missing `src`, match no key and re-append every incoming row
    val batch = Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "src", "v")
    intercept[Exception] { Sinks.appendNew(batch, dir, Seq("id", "src")) }
    assert(spark.read.parquet(dir).count() === 1)
  }

  test("a no-op appendNew reload appends 0 rows and adds only zero-row files") {
    val dir = Files.createTempDirectory("graft_append_noop").toString + "/t"
    val batch = (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v").repartition(3)
    assert(Sinks.appendNew(batch, dir, Seq("id")) === 50L)
    def dataFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
    val before = dataFiles
    assert(Sinks.appendNew(batch, dir, Seq("id")) === 0L)
    assert(spark.read.parquet(dir).count() === 50L)
    (dataFiles -- before).foreach { f =>
      assert(spark.read.parquet(f).count() === 0L, s"$f holds rows")
    }
  }

  test("BucketedTable: a commit leaves untouched buckets' files byte-identical") {
    import graft.streaming.BucketedTable
    def md5(p: java.nio.file.Path): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(java.nio.file.Files.readAllBytes(p))
        .map("%02x".format(_)).mkString
    def checksums(root: java.nio.file.Path): Map[String, String] = {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => root.relativize(p).toString -> md5(p)).toMap
      finally s.close()
    }
    def bucketsOf(ks: Seq[Long]): Set[Int] =
      ks.toDF("k").select(BucketedTable.bucketOf("k"))
        .collect().map(_.getInt(0)).toSet
    val snap = (1L to 20L).map(k => (k, k * 1.0)).toDF("k", "v")
    val rootDir = java.nio.file.Files.createTempDirectory("bucketed_table")
    val root = rootDir.toString
    try {
      // batch 0 updates keys 1 and 2
      val aff0 = Seq(1L, 2L).toDF("k")
      val t0 = BucketedTable.current(spark, root, snap, "k")
      BucketedTable.commit(root, 0,
        BucketedTable.affectedBucketRows(t0, aff0, "k")
          .join(aff0, Seq("k"), "left_anti")
          .unionByName(Seq((1L, 100.0), (2L, 100.0)).toDF("k", "v")),
        aff0, "k")
      val before = checksums(rootDir)
      // batch 1 touches ONE key from a bucket batch 0 did not write
      val b0 = bucketsOf(Seq(1L, 2L))
      val k1 = (3L to 20L).find(k => !b0.contains(bucketsOf(Seq(k)).head)).get
      val aff1 = Seq(k1).toDF("k")
      val t1 = BucketedTable.current(spark, root, snap, "k")
      BucketedTable.commit(root, 1,
        BucketedTable.affectedBucketRows(t1, aff1, "k")
          .join(aff1, Seq("k"), "left_anti")
          .unionByName(Seq((k1, 200.0)).toDF("k", "v")),
        aff1, "k")
      // THE invariant: every file that existed before the second commit
      // is byte-identical after it (untouched buckets never rewritten)
      val after = checksums(rootDir)
      before.foreach { case (rel, sum) =>
        assert(after.get(rel).contains(sum),
          s"file $rel changed or vanished across an unrelated commit")
      }
      // v1 claims exactly k1's bucket and writes no other bucket dir
      val v1 = new java.io.File(root, "v1")
      val claimed = java.nio.file.Files.readString(
        new java.io.File(v1, "_buckets").toPath).trim
      assert(claimed === bucketsOf(Seq(k1)).head.toString)
      val v1Buckets = Option(v1.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
        .map(_.getName).toSet
      assert(v1Buckets === Set(s"__bucket=${bucketsOf(Seq(k1)).head}"))
      // merged current state: both commits visible, snapshot elsewhere
      val cur = BucketedTable.current(spark, root, snap, "k")
        .as[(Long, Double)].collect().toMap
      assert(cur(1L) === 100.0 && cur(2L) === 100.0 && cur(k1) === 200.0)
      assert(cur.size === 20)
      ((3L to 20L).filterNot(_ == k1)).foreach(k => assert(cur(k) === k * 1.0))
    } finally {
      val s = java.nio.file.Files.walk(rootDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("BucketedTable: compaction preserves reads and shrinks the tree") {
    import graft.streaming.BucketedTable
    val snap = (1L to 20L).map(k => (k, k * 1.0)).toDF("k", "v")
    val rootDir = java.nio.file.Files.createTempDirectory("bucketed_compact")
    val root = rootDir.toString
    def vDirs = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName)
    try {
      // three commits: update k=1,2; update k=3; delete EVERY key of
      // k=1's bucket (claimed-empty must survive the fold)
      val aff0 = Seq(1L, 2L).toDF("k")
      BucketedTable.commit(root, 0,
        BucketedTable.affectedBucketRows(
            BucketedTable.current(spark, root, snap, "k"), aff0, "k")
          .join(aff0, Seq("k"), "left_anti")
          .unionByName(Seq((1L, 100.0), (2L, 100.0)).toDF("k", "v")),
        aff0, "k")
      val aff1 = Seq(3L).toDF("k")
      BucketedTable.commit(root, 1,
        BucketedTable.affectedBucketRows(
            BucketedTable.current(spark, root, snap, "k"), aff1, "k")
          .join(aff1, Seq("k"), "left_anti")
          .unionByName(Seq((3L, 300.0)).toDF("k", "v")),
        aff1, "k")
      val b1 = Seq(1L).toDF("k").select(BucketedTable.bucketOf("k"))
        .collect().head.getInt(0)
      val b1Keys = (1L to 20L).toDF("k")
        .select(col("k"), BucketedTable.bucketOf("k").as("b"))
        .as[(Long, Int)].collect().filter(_._2 == b1).map(_._1).toSeq
      val affDel = b1Keys.toDF("k")
      BucketedTable.commit(root, 2,
        BucketedTable.affectedBucketRows(
            BucketedTable.current(spark, root, snap, "k"), affDel, "k")
          .join(affDel, Seq("k"), "left_anti"), // bucket emptied
        affDel, "k")
      val before = BucketedTable.current(spark, root, snap, "k")
        .as[(Long, Double)].collect().toMap
      assert(vDirs.length === 3)
      BucketedTable.compact(spark, root, "k")
      // THE invariants: one version left, reads identical, the
      // claimed-empty bucket stays deleted, unclaimed buckets still
      // fall through to the snapshot
      assert(vDirs.length === 1, s"tree did not shrink: ${vDirs.toSeq}")
      val after = BucketedTable.current(spark, root, snap, "k")
        .as[(Long, Double)].collect().toMap
      assert(after === before)
      assert(b1Keys.forall(k => !after.contains(k)))
      assert(after(2L) === 100.0 && after(3L) === 300.0)
      (4L to 20L).filterNot(b1Keys.contains).filterNot(_ == 3L)
        .foreach(k => assert(after(k) === k * 1.0))
    } finally {
      val s = java.nio.file.Files.walk(rootDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("BucketedTable: currentAsOf time-travels, and compaction retires the horizon") {
    import graft.streaming.BucketedTable
    val snap = (1L to 20L).map(k => (k, k * 1.0)).toDF("k", "v")
    val rootDir = java.nio.file.Files.createTempDirectory("bucketed_asof")
    val root = rootDir.toString
    def commitOne(k: Long, v: Double): Unit = {
      val aff = Seq(k).toDF("k")
      BucketedTable.commitIds(root, BucketedTable.nextVersionId(root),
        BucketedTable.affectedBucketRows(
            BucketedTable.current(spark, root, snap, "k"), aff, "k")
          .join(aff, Seq("k"), "left_anti")
          .unionByName(Seq((k, v)).toDF("k", "v")),
        BucketedTable.bucketIds(aff, "k"), "k")
    }
    try {
      commitOne(1L, 100.0) // v0
      commitOne(1L, 200.0) // v1
      commitOne(2L, 300.0) // v2
      def asOf(v: Long): Map[Long, Double] =
        BucketedTable.currentAsOf(spark, root, snap, "k", v)
          .as[(Long, Double)].collect().toMap
      assert(asOf(0L)(1L) === 100.0 && asOf(0L)(2L) === 2.0)
      assert(asOf(1L)(1L) === 200.0 && asOf(1L)(2L) === 2.0)
      assert(asOf(2L)(1L) === 200.0 && asOf(2L)(2L) === 300.0)
      // asOf before any version = the base snapshot
      assert(asOf(-1L) === (1L to 20L).map(k => k -> k * 1.0).toMap)
      // asOf(latest) == current, always
      assert(asOf(Long.MaxValue) ===
        BucketedTable.current(spark, root, snap, "k")
          .as[(Long, Double)].collect().toMap)
      // compaction retires history below the fold: reads at or past the
      // fold are unchanged; reads below it FAIL LOUDLY (round-11 ADVICE
      // — silently degrading to the base snapshot was wrong data with
      // no error)
      BucketedTable.compact(spark, root, "k")
      assert(asOf(Long.MaxValue)(1L) === 200.0 &&
        asOf(Long.MaxValue)(2L) === 300.0)
      val foldId = BucketedTable.nextVersionId(root) - 1
      assert(asOf(foldId)(1L) === 200.0, "read AT the fold must survive")
      val ex = intercept[IllegalStateException] { asOf(1L) }
      assert(ex.getMessage.contains("compaction fold"),
        s"expected the retention-horizon failure, got: ${ex.getMessage}")
    } finally {
      val s = java.nio.file.Files.walk(rootDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("BucketedTable: a crash mid-compaction (fold written, old versions not deleted) reads identically") {
    import graft.streaming.BucketedTable
    val snap = (1L to 20L).map(k => (k, k * 1.0)).toDF("k", "v")
    val rootDir = java.nio.file.Files.createTempDirectory("bucketed_crash")
    val root = rootDir.toString
    try {
      val aff0 = Seq(1L, 2L).toDF("k")
      BucketedTable.commit(root, 0,
        BucketedTable.affectedBucketRows(
            BucketedTable.current(spark, root, snap, "k"), aff0, "k")
          .join(aff0, Seq("k"), "left_anti")
          .unionByName(Seq((1L, 100.0), (2L, 100.0)).toDF("k", "v")),
        aff0, "k")
      val aff1 = Seq(3L).toDF("k")
      BucketedTable.commit(root, 1,
        BucketedTable.affectedBucketRows(
            BucketedTable.current(spark, root, snap, "k"), aff1, "k")
          .join(aff1, Seq("k"), "left_anti")
          .unionByName(Seq((3L, 300.0)).toDF("k", "v")),
        aff1, "k")
      val before = BucketedTable.current(spark, root, snap, "k")
        .as[(Long, Double)].collect().toMap
      // simulate the crash: run compact, then RESTORE the old version
      // dirs next to the fold (the state a crash mid-delete leaves) —
      // the fold claims a superset of every claim below it, so it
      // shadows the stale dirs and reads must be identical
      val backup = java.nio.file.Files.createTempDirectory("bucketed_bak")
      def copyRec(from: java.io.File, to: java.io.File): Unit = {
        if (from.isDirectory) { to.mkdirs()
          from.listFiles().foreach(f => copyRec(f, new java.io.File(to, f.getName)))
        } else { java.nio.file.Files.copy(from.toPath, to.toPath); () }
      }
      Seq("v0", "v1").foreach(v =>
        copyRec(new java.io.File(root, v), new java.io.File(backup.toFile, v)))
      BucketedTable.compact(spark, root, "k")
      Seq("v0", "v1").foreach(v =>
        copyRec(new java.io.File(backup.toFile, v), new java.io.File(root, v)))
      val crashed = BucketedTable.current(spark, root, snap, "k")
        .as[(Long, Double)].collect().toMap
      assert(crashed === before,
        "stale pre-compaction versions changed reads — fold does not shadow them")
      // and the NEXT compaction removes the stale dirs for good
      BucketedTable.compact(spark, root, "k")
      val dirs = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName)
      assert(dirs.length === 1, s"stale dirs survived re-compaction: ${dirs.toSeq}")
      assert(BucketedTable.current(spark, root, snap, "k")
        .as[(Long, Double)].collect().toMap === before)
    } finally {
      val s = java.nio.file.Files.walk(rootDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("BucketedTable: commitIds auto-compacts past the version threshold") {
    import graft.streaming.BucketedTable
    val snap = (1L to 20L).map(k => (k, k * 1.0)).toDF("k", "v")
    val rootDir = java.nio.file.Files.createTempDirectory("bucketed_auto")
    val root = rootDir.toString
    def nV = Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith("v"))
    try {
      (1 to 6).foreach { i =>
        val k = i.toLong
        val aff = Seq(k).toDF("k")
        val tPrev = BucketedTable.current(spark, root, snap, "k")
        BucketedTable.commitIds(root, BucketedTable.nextVersionId(root),
          BucketedTable.affectedBucketRows(tPrev, aff, "k")
            .join(aff, Seq("k"), "left_anti")
            .unionByName(Seq((k, k * 100.0)).toDF("k", "v")),
          BucketedTable.bucketIds(aff, "k"), "k",
          compactThreshold = 3)
        assert(nV <= 4, s"tree grew past threshold+1: $nV versions")
      }
      val cur = BucketedTable.current(spark, root, snap, "k")
        .as[(Long, Double)].collect().toMap
      (1L to 6L).foreach(k => assert(cur(k) === k * 100.0))
      (7L to 20L).foreach(k => assert(cur(k) === k * 1.0))
      assert(cur.size === 20)
    } finally {
      val s = java.nio.file.Files.walk(rootDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("BucketedTable: currentBuckets equals the bucket-restriction of current") {
    import graft.streaming.BucketedTable
    val snap = (1L to 20L).map(k => (k, k * 1.0)).toDF("k", "v")
    val rootDir = java.nio.file.Files.createTempDirectory("bucketed_pruned")
    val root = rootDir.toString
    try {
      val aff0 = Seq(1L, 2L, 3L).toDF("k")
      BucketedTable.commit(root, 0,
        BucketedTable.affectedBucketRows(
            BucketedTable.current(spark, root, snap, "k"), aff0, "k")
          .join(aff0, Seq("k"), "left_anti")
          .unionByName(Seq((1L, 100.0), (2L, 100.0), (3L, 100.0))
            .toDF("k", "v")),
        aff0, "k")
      // wanted set straddles claimed AND never-claimed buckets
      val wantedKeys = Seq(2L, 7L, 11L).toDF("k")
      val wanted = BucketedTable.bucketIds(wantedKeys, "k")
      val pruned = BucketedTable
        .currentBuckets(spark, root, snap, "k", wanted)
        .as[(Long, Double)].collect().toMap
      val full = BucketedTable.current(spark, root, snap, "k")
        .withColumn("__b", BucketedTable.bucketOf("k"))
        .filter(col("__b").isin(wanted: _*)).drop("__b")
        .as[(Long, Double)].collect().toMap
      assert(pruned === full)
      // the maintainers' contract: affected keys' rows are all there
      assert(pruned(2L) === 100.0 && pruned(7L) === 7.0 && pruned(11L) === 11.0)
    } finally {
      val s = java.nio.file.Files.walk(rootDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("rollup-shaped bucket commits leave untouched group buckets byte-identical") {
    import graft.streaming.BucketedTable
    import graft.operators.Dedup
    def md5(p: java.nio.file.Path): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(java.nio.file.Files.readAllBytes(p))
        .map("%02x".format(_)).mkString
    def checksums(root: java.nio.file.Path): Map[String, String] = {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => root.relativize(p).toString -> md5(p)).toMap
      finally s.close()
    }
    // a (grp, cnt, s) rollup over 40 groups, seeded claiming all
    // buckets, then one delta touching a single group — exactly the
    // maintainer's per-batch commit shape
    val snap = (1L to 200L).map(k => (k, k % 40, k * 1.0)).toDF("k", "g", "v")
    val base = Dedup.baseRollup(snap, col("g"), col("v"))
    val rootDir = java.nio.file.Files.createTempDirectory("rollup_buckets")
    val root = rootDir.toString
    try {
      BucketedTable.seedBase(root, base, "grp")
      val before = checksums(rootDir)
      val deltas = Seq((7L, 1L, BigDecimal(10.0)))
        .toDF("grp", "dn", "ds")
        .select(col("grp"), col("dn"),
          col("ds").cast("decimal(38,10)").as("ds"))
      val gIds = BucketedTable.bucketIds(deltas.select(col("grp")), "grp")
      assert(gIds.size === 1)
      BucketedTable.commitIds(root, BucketedTable.nextVersionId(root),
        Dedup.mergeRollup(
          BucketedTable.currentBuckets(spark, root, base, "grp", gIds),
          deltas),
        gIds, "grp")
      // THE verdict-#2 invariant: every seed file is byte-identical
      // after the delta commit (only v1/__bucket=<g7's bucket> is new)
      val after = checksums(rootDir)
      before.foreach { case (rel, sum) =>
        assert(after.get(rel).contains(sum),
          s"untouched rollup bucket file $rel changed across a delta commit")
      }
      // and the merged read reflects exactly the one delta
      val cur = BucketedTable.current(spark, root, base, "grp")
        .as[(Long, Long, java.math.BigDecimal)].collect()
        .map(r => (r._1, (r._2, BigDecimal(r._3)))).toMap
      val baseM = base.as[(Long, Long, java.math.BigDecimal)].collect()
        .map(r => (r._1, (r._2, BigDecimal(r._3)))).toMap
      assert(cur(7L)._1 === baseM(7L)._1 + 1)
      assert(cur(7L)._2 === baseM(7L)._2 + 10.0)
      baseM.keys.filterNot(_ == 7L).foreach(g => assert(cur(g) === baseM(g)))
    } finally {
      val s = java.nio.file.Files.walk(rootDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("ooo IVM: rollup and frontier commits are bucket-scoped, never wholesale") {
    import graft.operators.Dedup
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    // groups spread over many buckets so a one-group batch delta can
    // never legitimately claim every bucket
    val snap = (1L to 16L).map(k => (k, k % 8, k * 1.0)).toDF("k", "g", "v")
    val changes = Seq(
      (1L, ts("2024-01-10 00:00:00"), 1L, "U", 1L, 15.0),
      (2L, ts("2024-02-10 00:00:00"), 1L, "U", 2L, 25.0),
      (3L, ts("2024-03-10 00:00:00"), 1L, "U", 3L, 35.0)
    ).toDF("k", "ts", "seq", "op", "g", "v")
    val streamed = Streaming.streamingIncrementalRollupOutOfOrder(spark,
        snap, changes, batchOf = month(col("ts")) - 1,
        "k", "ts", "seq", "op", Seq("g", "v"), col("g"), col("v"),
        maxLatenessSec = 365L * 24 * 3600)
      .orderBy("grp").as[(Long, Long, Double)].collect()
    val oneShot = Dedup.incrementalRollup(snap, changes, "k", "ts", "seq",
        "op", Seq("g", "v"), col("g"), col("v"))
      .orderBy("grp").as[(Long, Long, Double)].collect()
    assert(streamed.toSeq === oneShot.toSeq)
    // inspect the maintainer's actual version trees (they live under
    // the streaming scratch root until the next invocation wipes them)
    val scratch = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_stream_${ProcessHandle.current().pid()}")
    def claims(rootName: String): Seq[(Long, Seq[Int])] = {
      val d = scratch.resolve(rootName).toFile
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("v"))
        .sortBy(_.getName.drop(1).toLong)
        .flatMap { v =>
          val m = new java.io.File(v, "_buckets")
          if (!m.isFile) None
          else Some(v.getName.drop(1).toLong ->
            new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8")
              .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
              .map(_.toInt).toSeq)
        }.toSeq
    }
    val nB = graft.streaming.BucketedTable.defaultBuckets
    val roll = claims("ivm_ooo_rollup")
    // seed claims ALL buckets; every per-batch commit claims a strict
    // subset (one group's delta per batch here)
    assert(roll.head._2 === (0 until nB).toSeq, s"no full seed: $roll")
    assert(roll.tail.nonEmpty)
    roll.tail.foreach { case (v, bs) =>
      assert(bs.nonEmpty && bs.size < nB,
        s"rollup v$v claims $bs — wholesale rewrite")
    }
    Seq("ivm_ooo_front", "ivm_ooo_table").foreach { rn =>
      val cs = claims(rn)
      assert(cs.nonEmpty, s"$rn has no committed versions")
      cs.foreach { case (v, bs) =>
        assert(bs.nonEmpty && bs.size < nB,
          s"$rn v$v claims $bs — wholesale rewrite")
      }
    }
  }

  test("IVM sparse batch: per-batch read files and write bytes scale with the delta, not the table") {
    import graft.operators.Dedup
    import graft.streaming.BucketedTable
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    // round-11 verdict #3: both bench fixture batches are table-wide
    // dense, so the adaptive claim always took the claim-everything
    // path and the pruned read never pruned — the 100 TB argument
    // (touched fraction ≪ 1 ⇒ delta-sized I/O) was untested. Batch 0
    // here touches EVERY key bucket (dense); batch 1 touches ONE key
    // (sparse, the at-scale shape).
    val nB = BucketedTable.defaultBuckets
    val snap = (1L to 400L).map(k => (k, k % 40, k * 1.0)).toDF("k", "g", "v")
    val byBucket = (1L to 400L).toDF("k")
      .select(col("k"), BucketedTable.bucketOf("k").as("b"))
      .as[(Long, Int)].collect().groupBy(_._2)
    assert(byBucket.size === nB)
    val denseKeys = byBucket.values.map(_.head._1).toSeq // one per bucket
    val sparseKey = byBucket.head._2.last._1
    val changes = denseKeys.zipWithIndex.map { case (k, i) =>
      (k, ts("2024-01-10 00:00:00"), i.toLong, "U", k % 40, 999.0)
    }.toDF("k", "ts", "seq", "op", "g", "v").unionByName(
      Seq((sparseKey, ts("2024-02-10 00:00:00"), 100L, "U",
        sparseKey % 40, 111.0)).toDF("k", "ts", "seq", "op", "g", "v"))
    val streamed = Streaming.streamingIncrementalRollup(spark, snap, changes,
        batchOf = month(col("ts")) - 1,
        "k", "ts", "seq", "op", Seq("g", "v"), col("g"), col("v"))
      .orderBy("grp").as[(Long, Long, Double)].collect()
    val oneShot = Dedup.incrementalRollup(snap, changes, "k", "ts", "seq",
        "op", Seq("g", "v"), col("g"), col("v"))
      .orderBy("grp").as[(Long, Long, Double)].collect()
    assert(streamed.toSeq === oneShot.toSeq)
    // inspect the maintainer's table tree (streaming scratch root)
    val scratch = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_stream_${ProcessHandle.current().pid()}")
    val tableRoot = scratch.resolve("ivm_table").toString
    def versionInfo(root: String): Seq[(Long, Seq[Int], Long)] = {
      Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("v"))
        .sortBy(_.getName.drop(1).toLong)
        .flatMap { v =>
          val m = new java.io.File(v, "_buckets")
          if (!m.isFile) None
          else {
            val claims = new String(
                java.nio.file.Files.readAllBytes(m.toPath), "UTF-8")
              .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
              .map(_.toInt).toSeq
            def bytes(f: java.io.File): Long = {
              val cs = f.listFiles()
              if (cs == null) f.length() else cs.map(bytes).sum
            }
            Some((v.getName.drop(1).toLong, claims, bytes(v)))
          }
        }.toSeq
    }
    val tv = versionInfo(tableRoot)
    assert(tv.size === 2, s"expected 2 table versions, got $tv")
    val (_, denseClaims, denseBytes) = tv(0)
    val (_, sparseClaims, sparseBytes) = tv(1)
    assert(denseClaims.size === nB, s"dense batch should claim all: $denseClaims")
    // WRITE amplification: the sparse commit claims ONE bucket and its
    // on-disk bytes are a small fraction of the dense commit's
    val sparseBucket = Seq(sparseKey).toDF("k")
      .select(BucketedTable.bucketOf("k")).as[Int].head()
    assert(sparseClaims === Seq(sparseBucket),
      s"sparse batch claims: $sparseClaims, expected Seq($sparseBucket)")
    assert(sparseBytes * 4 < denseBytes,
      s"sparse write ($sparseBytes B) not ≪ dense write ($denseBytes B)")
    // READ pruning: the pruned assembly for the sparse bucket opens
    // ONLY files under that bucket's partition dirs — never the other
    // 7 buckets' files (a post-scan filter could not do this)
    val b = sparseClaims.head
    val pruned = BucketedTable.currentBuckets(spark, tableRoot, snap,
      "k", Seq(b))
    val opened = pruned.inputFiles.toSeq
    assert(opened.nonEmpty)
    assert(opened.forall(_.contains(s"__bucket=$b")),
      s"pruned read opened foreign-bucket files: ${opened.filterNot(_.contains(s"__bucket=$b"))}")
    def allParquet(root: String): Seq[String] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try s.toArray.toSeq.map(_.toString)
        .filter(p => p.endsWith(".parquet") || p.contains("part-"))
      finally s.close()
    }
    val totalFiles = allParquet(tableRoot).count(_.contains("part-"))
    assert(opened.size < totalFiles,
      s"pruned read opened every file (${opened.size} of $totalFiles)")
    info(s"sparse commit: $sparseBytes B / ${sparseClaims.size} bucket vs " +
      s"dense $denseBytes B / ${denseClaims.size} buckets; pruned read " +
      s"opened ${opened.size} of $totalFiles files")
  }

  test("BucketedTable: deleting a bucket's last row does not resurrect older versions") {
    import graft.streaming.BucketedTable
    val snap = (1L to 20L).map(k => (k, k * 1.0)).toDF("k", "v")
    val rootDir = java.nio.file.Files.createTempDirectory("bucketed_delete")
    val root = rootDir.toString
    try {
      // find the full key set of one bucket, write it at v0, then
      // delete EVERY key of that bucket at v1 — v1's manifest claims
      // the bucket with no partition dir (empty), so current() must
      // not fall through to v0's rows
      val byBucket = (1L to 20L).toDF("k")
        .select(col("k"), BucketedTable.bucketOf("k").as("b"))
        .as[(Long, Int)].collect().groupBy(_._2)
      val (_, members) = byBucket.maxBy(_._2.length)
      val ks = members.map(_._1).toSeq
      val aff = ks.toDF("k")
      val t0 = BucketedTable.current(spark, root, snap, "k")
      BucketedTable.commit(root, 0,
        BucketedTable.affectedBucketRows(t0, aff, "k"), aff, "k")
      val t1 = BucketedTable.current(spark, root, snap, "k")
      BucketedTable.commit(root, 1,
        BucketedTable.affectedBucketRows(t1, aff, "k")
          .join(aff, Seq("k"), "left_anti"), // all rows deleted
        aff, "k")
      val cur = BucketedTable.current(spark, root, snap, "k")
        .as[(Long, Double)].collect().toMap
      assert(ks.forall(k => !cur.contains(k)),
        s"deleted keys resurrected: ${ks.filter(cur.contains)}")
      assert(cur.size === 20 - ks.size)
    } finally {
      val s = java.nio.file.Files.walk(rootDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("BucketedTable: commitIds rejects a recycled (non-monotone) version id") {
    import graft.streaming.BucketedTable
    val snap = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    val rootDir = java.nio.file.Files.createTempDirectory("bucketed_mono")
    val root = rootDir.toString
    try {
      val aff = Seq(1L).toDF("k")
      // fresh-root literal ids in ascending order still pass
      BucketedTable.commitIds(root, 0, Seq((1L, 10.0)).toDF("k", "v"),
        BucketedTable.bucketIds(aff, "k"), "k")
      BucketedTable.commitIds(root, 1, Seq((1L, 11.0)).toDF("k", "v"),
        BucketedTable.bucketIds(aff, "k"), "k")
      // a recycled smaller id would be silently shadowed by any later
      // compaction fold (written at last+1) — must be refused loudly
      val ex = intercept[IllegalArgumentException] {
        BucketedTable.commitIds(root, 0, Seq((1L, 99.0)).toDF("k", "v"),
          BucketedTable.bucketIds(aff, "k"), "k")
      }
      assert(ex.getMessage.contains("monotone"))
      // and the refused commit left no visible state change
      assert(BucketedTable.current(spark, root, snap, "k")
        .filter(col("k") === 1L).as[(Long, Double)].head()._2 === 11.0)
    } finally {
      val s = java.nio.file.Files.walk(rootDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("BucketedTable: concurrent writers + auto-compaction serialize under the commit lock") {
    import graft.streaming.BucketedTable
    // four writer threads on pairwise-distinct buckets, each committing
    // 5 deltas through commitNext with a small compactThreshold so
    // folds interleave with commits — the round-11 verdict #5 race: an
    // unserialized compaction wiping versions while another writer
    // commits (or two writers allocating one id, one silently
    // shadowed). Distinct buckets keep each commit a full-bucket
    // content, so the only way a thread's last value can go missing is
    // a lost/shadowed commit.
    val rootDir = java.nio.file.Files.createTempDirectory("bucketed_race")
    val root = rootDir.toString
    try {
      val keys = (1L to 40L).toDF("k")
        .select(col("k"), BucketedTable.bucketOf("k").as("b"))
        .as[(Long, Int)].collect().groupBy(_._2)
        .map(_._2.head._1).toSeq.sorted.take(4)
      assert(keys.size === 4)
      val snap = keys.map(k => (k, 0.0)).toDF("k", "v")
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = keys.map { k =>
        new Thread(() => {
          try (1 to 5).foreach { i =>
            BucketedTable.commitNext(root, Seq((k, i * 1.0)).toDF("k", "v"),
              BucketedTable.bucketIds(Seq(k).toDF("k"), "k"), "k",
              compactThreshold = 4)
          } catch { case t: Throwable => failures.add(t); () }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(failures.isEmpty,
        s"writer thread failed: ${Option(failures.peek()).map(_.toString)}")
      // 20 commits happened (plus folds): ids were allocated without
      // duplication and every thread's LAST value survived the folds
      assert(BucketedTable.nextVersionId(root) >= 20L)
      val cur = BucketedTable.current(spark, root, snap, "k")
        .as[(Long, Double)].collect().toMap
      keys.foreach(k => assert(cur(k) === 5.0,
        s"key $k lost its last commit under the race: ${cur.get(k)}"))
      assert(cur.size === keys.size)
    } finally {
      val s = java.nio.file.Files.walk(rootDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("BucketedTable: an unmanifested orphan does not wedge the root; retry overwrites it") {
    import graft.streaming.BucketedTable
    val snap = Seq((1L, 1.0)).toDF("k", "v")
    val rootDir = java.nio.file.Files.createTempDirectory("bucketed_orphan")
    val root = rootDir.toString
    try {
      // simulate a commit that crashed between parquet and _buckets:
      // a v0 directory with data but no manifest
      BucketedTable.commitIds(root, 0, Seq((1L, 10.0)).toDF("k", "v"),
        BucketedTable.bucketIds(Seq(1L).toDF("k"), "k"), "k")
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$root/v0", "_buckets"))
      // the orphan is invisible: nextVersionId must NOT count it
      // (round-12 review: counting it wedged the root forever on the
      // monotone require — the retry semantics is overwrite-in-place)
      assert(BucketedTable.nextVersionId(root) === 0L)
      BucketedTable.commitIds(root, 0, Seq((1L, 20.0)).toDF("k", "v"),
        BucketedTable.bucketIds(Seq(1L).toDF("k"), "k"), "k")
      assert(BucketedTable.current(spark, root, snap, "k")
        .filter(col("k") === 1L).as[(Long, Double)].head()._2 === 20.0)
    } finally {
      val s = java.nio.file.Files.walk(rootDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("BucketedTable: sidecars commit atomically and SURVIVE folds (long-stream shape)") {
    import graft.streaming.BucketedTable
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val snap = Seq((1L, 0.0)).toDF("k", "v")
    val rootDir = java.nio.file.Files.createTempDirectory("bucketed_sidecar")
    val root = rootDir.toString
    try {
      // 8 commits at compactThreshold=3: folds fire repeatedly MID-RUN.
      // The round-12-review crash was exactly here — the post-commit
      // sidecar write targeted a directory the fold had just wiped;
      // sidecars now ride the commit (before the manifest) and folds
      // carry the newest _hwm/_batch forward.
      (0 until 8).foreach { i =>
        BucketedTable.commitNext(root, Seq((1L, i * 1.0)).toDF("k", "v"),
          BucketedTable.bucketIds(Seq(1L).toDF("k"), "k"), "k",
          compactThreshold = 3,
          sidecars = Seq(
            "_hwm" -> s"${ts(s"2024-01-0${i + 1} 00:00:00").getTime} 0"
              .getBytes("UTF-8"),
            "_batch" -> i.toString.getBytes("UTF-8")))
      }
      // the tree folded (≤ threshold+1 versions), yet the NEWEST
      // watermark and batch marker are still readable
      val nV = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty)
        .count(f => f.isDirectory && f.getName.startsWith("v"))
      assert(nV <= 4, s"tree did not fold: $nV versions")
      assert(Streaming.persistedHwm(root) ===
        Some(ts("2024-01-08 00:00:00")))
      assert(Streaming.newestBatchMarker(root) === Some(7L))
      assert(BucketedTable.current(spark, root, snap, "k")
        .filter(col("k") === 1L).as[(Long, Double)].head()._2 === 7.0)
    } finally {
      val s = java.nio.file.Files.walk(rootDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("ooo IVM hwm sidecar: restart re-seeds from the newest FULLY-committed table version") {
    import graft.streaming.BucketedTable
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val rootDir = java.nio.file.Files.createTempDirectory("hwm_sidecar")
    val root = rootDir.toString
    try {
      val aff = Seq(1L).toDF("k")
      // batch 0 fully committed: table v0 + its _hwm sidecar
      BucketedTable.commitIds(root, 0, Seq((1L, 10.0)).toDF("k", "v"),
        BucketedTable.bucketIds(aff, "k"), "k")
      Streaming.writeHwmSidecar(root, 0, ts("2024-01-31 00:00:00"))
      assert(Streaming.persistedHwm(root) === Some(ts("2024-01-31 00:00:00")))
      // batch 1 CRASHED between the table manifest and the sidecar
      // write (manifest visible, no _hwm): the re-seed must fall back
      // to batch 0's mark — re-seeding from the batch's own max ts (the
      // pre-round-12 frontier-max path) would reject its rows as late
      // on retry and permanently skip their table/rollup application
      BucketedTable.commitIds(root, 1, Seq((1L, 20.0)).toDF("k", "v"),
        BucketedTable.bucketIds(aff, "k"), "k")
      assert(Streaming.persistedHwm(root) === Some(ts("2024-01-31 00:00:00")),
        "re-seed must ignore versions whose sidecar never landed")
      // retry completed: sidecar lands, the mark advances
      Streaming.writeHwmSidecar(root, 1, ts("2024-03-01 00:00:00"))
      assert(Streaming.persistedHwm(root) === Some(ts("2024-03-01 00:00:00")))
      // µs precision survives the round-trip
      val fine = ts("2024-03-01 00:00:00.123456")
      Streaming.writeHwmSidecar(root, 1, fine)
      assert(Streaming.persistedHwm(root) === Some(fine))
    } finally {
      val s = java.nio.file.Files.walk(rootDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("IVM time travel: deferred compaction preserves every batch tag; a threshold retires early tags loudly") {
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val snap = Seq((1L, 1L, 10.0), (2L, 2L, 20.0)).toDF("k", "g", "v")
    // four commit-ordered single-change batches for one key: the
    // maintained rollup for group 1 reads 11/12/13/14 after batches
    // 0/1/2/3 (version b+1 over the seeded base v0)
    val changes = Seq(
      (1L, ts("2024-01-10 00:00:00"), 1L, "U", 1L, 11.0),
      (1L, ts("2024-02-10 00:00:00"), 2L, "U", 1L, 12.0),
      (1L, ts("2024-03-10 00:00:00"), 3L, "U", 1L, 13.0),
      (1L, ts("2024-04-10 00:00:00"), 4L, "U", 1L, 14.0)
    ).toDF("k", "ts", "seq", "op", "g", "v")
    def run(threshold: Int) = Streaming.streamingIncrementalRollupTimeTravel(
      spark, snap, changes, batchOf = month(col("ts")) - 1,
      "k", "ts", "seq", "op", Seq("g", "v"), col("g"), col("v"),
      asOf = Seq(("b0", 1L), ("b3", 4L)), compactThreshold = threshold)
    // default (0): compaction deferred, every tag reconstructs exactly
    val got = run(0).orderBy("as_of", "grp")
      .select("as_of", "grp", "vsum").as[(String, Long, Double)].collect()
    assert(got.toSeq === Seq(("b0", 1L, 11.0), ("b0", 2L, 20.0),
      ("b3", 1L, 14.0), ("b3", 2L, 20.0)))
    // a small threshold folds mid-stream: version ids shift past b+1
    // AND pre-fold claims are deleted — the early tag must fail loudly
    // (round-11 ADVICE: it used to silently read the seeded base). The
    // as-of reads run on the driver after the fold, so the horizon
    // failure surfaces directly.
    val ex = intercept[IllegalStateException] { run(2) }
    assert(ex.getMessage.contains("compaction fold"),
      s"expected the retention-horizon failure, got: ${ex.getMessage}")
  }

  test("landBatchFiles: single-write landing keeps the per-batch layout contract") {
    // round 15: the per-batch filter+write loop became one
    // coalesce(1)+partitionBy job — every downstream fold depends on
    // the landed layout, so pin it: one dir per distinct batch value,
    // named b%04d.parquet in ASCENDING NUMERIC batch order (10 > 2),
    // exactly one data file inside each, strictly increasing mtimes
    // (FileStreamSource delivery order), __b dropped from the data,
    // NULL-batch rows dropped, no leftover partition dirs or _SUCCESS.
    val land = Files.createTempDirectory("graft_land_spec").toString
    val tagged = Seq[(Long, java.lang.Long)](
        (1L, 10L), (2L, 2L), (3L, 0L), (4L, 10L), (5L, null))
      .toDF("v", "__b").repartition(4)
    Streaming.landBatchFiles(tagged, land)
    val entries = new java.io.File(land).listFiles().toSeq
    assert(entries.map(_.getName).sorted ===
      Seq("b0000.parquet", "b0001.parquet", "b0002.parquet"))
    def rows(i: Int) = {
      val d = new java.io.File(land, f"b$i%04d.parquet")
      val dataFiles = d.listFiles().filter(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      assert(dataFiles.length === 1, s"batch $i: one data file per batch")
      spark.read.parquet(d.toString)
    }
    assert(rows(0).columns.toSeq === Seq("v"))
    assert(rows(0).as[Long].collect().toSet === Set(3L)) // batch 0
    assert(rows(1).as[Long].collect().toSet === Set(2L)) // batch 2
    assert(rows(2).as[Long].collect().toSet === Set(1L, 4L)) // batch 10
    val mtimes = (0 to 2).map(i =>
      new java.io.File(land, f"b$i%04d.parquet").lastModified)
    assert(mtimes === mtimes.sorted && mtimes.distinct.size === 3,
      s"batch mtimes must strictly ascend, got $mtimes")
  }
}
