package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.Sources

class SourcesSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  private val newsSchema = StructType(Seq(
    StructField("url", StringType), StructField("title", StringType),
    StructField("score", LongType)))

  test("readJson: corrupt rows captured, good rows parsed (PERMISSIVE)") {
    val dir = Files.createTempDirectory("graft_json").toString
    Files.writeString(java.nio.file.Path.of(dir, "a.json"),
      """{"url": "u1", "title": "T1", "score": 5}
        |this is not json at all
        |{"url": "u2", "title": "T2", "score": "junk"}
        |""".stripMargin)
    // cache: Spark disallows querying only _corrupt_record off a raw scan
    val df = Sources.readJson(spark, dir, newsSchema).cache()
    assert(df.filter($"url" === "u1" && $"score" === 5).count() === 1)
    assert(df.filter($"_corrupt_record".isNotNull).count() === 2)
    assert(df.count() === 3) // nothing dropped, nothing thrown
  }

  test("readCsv: schema applied, malformed row captured") {
    val dir = Files.createTempDirectory("graft_csv").toString
    Files.writeString(java.nio.file.Path.of(dir, "a.csv"),
      "url,title,score\nu1,T1,5\nu2,T2,notanumber\n")
    val df = Sources.readCsv(spark, dir, newsSchema).cache()
    assert(df.filter($"score".isNotNull).count() === 1)
    assert(df.filter($"_corrupt_record".isNotNull).count() === 1)
  }

  test("tableOrEmpty: missing path yields empty frame with schema, not an error") {
    val df = Sources.tableOrEmpty(spark, "/nonexistent/nowhere", newsSchema)
    assert(df.count() === 0)
    assert(df.schema.fieldNames.toSeq === Seq("url", "title", "score"))
    // downstream transforms no-op (reference's empty-in empty-out contract)
    assert(df.na.drop("any", Seq("url")).count() === 0)
  }

  test("readEvolved: widened types and added columns read under one schema") {
    val dir = Files.createTempDirectory("graft_evo").toString
    // generation 1 (pre-migration): narrow id (int32), float price, no status
    Seq((1, 1.5f), (2, 2.5f)).toDF("id", "price")
      .write.mode("append").parquet(dir)
    // generation 2 (post-migration): widened id (int64), double price, status
    Seq((3L, 3.5d, "ok"), (4L, 4.5d, "bad")).toDF("id", "price", "status")
      .write.mode("append").parquet(dir)
    val target = StructType(Seq(
      StructField("id", LongType), StructField("price", DoubleType),
      StructField("status", StringType)))
    val df = Sources.readEvolved(spark, dir, target)
    assert(df.schema.fields.map(_.dataType).toSeq ===
      Seq(LongType, DoubleType, StringType))
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(rows.map(_.getDouble(1)).toSeq === Seq(1.5, 2.5, 3.5, 4.5))
    // old-generation rows surface the added column as NULL
    assert(rows.map(r => Option(r.getString(2))).toSeq ===
      Seq(None, None, Some("ok"), Some("bad")))
  }

  test("mergeUpsert: merging the same incoming twice is idempotent") {
    val existing = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    val incoming = Seq((2L, 99.0), (3L, 30.0)).toDF("id", "v")
    val once = Dedup.mergeUpsert(existing, incoming, Seq("id"))
    val onceState = once.drop("merge_action")
    val twice = Dedup.mergeUpsert(onceState, incoming, Seq("id"))
    assert(once.orderBy("id").drop("merge_action").collect().toSeq ===
      twice.orderBy("id").drop("merge_action").collect().toSeq)
    val actions = once.orderBy("id").select("merge_action").as[String].collect()
    assert(actions.toSeq === Seq("kept", "updated", "inserted"))
  }

  test("partition filter prunes directories at the metadata level") {
    val dir = Files.createTempDirectory("graft_prune").toString
    (1 to 300).map(i => (i.toLong, s"2024-0${i % 3 + 1}", i * 1.5))
      .toDF("id", "month", "v")
      .repartition(col("month"))
      .write.mode("overwrite").partitionBy("month").parquet(dir)
    val pruned = spark.read.parquet(dir).filter($"month" === "2024-02")
    assert(pruned.collect().length === 100)
    // the scan's numFiles metric counts files actually read after
    // partition pruning: 3 partition dirs on disk, only month=2024-02
    // opened (the 100 TB win: the filter is applied to metadata,
    // before any file IO)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def findScan(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Some(f)
      case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
      case _ => p.children.view.flatMap(findScan(_)).headOption
    }
    val scan = findScan(pruned.queryExecution.executedPlan)
    assert(scan.isDefined)
    assert(scan.get.metrics("numFiles").value === 1,
      s"expected 1 pruned file, plan:\n${pruned.queryExecution.executedPlan}")
  }

  test("registerViews exposes the full catalog to spark.sql with nanos normalized") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Sources.registerViews(spark, "/root/testdata/sf0.001")
    // every table resolvable by name
    Sources.tableNames.foreach { n =>
      assert(spark.sql(s"SELECT * FROM $n LIMIT 1").count() === 1, n)
    }
    // the events view carries the µs TIMESTAMP (not raw epoch-nanos), so
    // SQL users get date functions directly
    val row = spark.sql(
      "SELECT date_trunc('day', ts) AS d FROM events LIMIT 1").schema("d")
    assert(row.dataType === org.apache.spark.sql.types.TimestampType)
    // and a pure-SQL query over a view matches the DataFrame path
    val viaSql = spark.sql(
      "SELECT count(*) FROM lineitem WHERE l_quantity > 25").head().getLong(0)
    val viaDf = Sources.table(spark, "/root/testdata/sf0.001", "lineitem")
      .filter($"l_quantity" > 25).count()
    assert(viaSql === viaDf && viaSql > 0)
  }

  test("pure-SQL forms of representative operators match the DataFrame plans") {
    // proves the registered catalog is a full query surface, not just
    // scan-able: star join + rollup, keep-first dedup, and grouped
    // ffill→bfill each run as ONE spark.sql string over the views and
    // must return exactly the DataFrame operators' rows
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sf = "/root/testdata/sf0.001"
    Sources.registerViews(spark, sf)
    def assertSame(viaSql: org.apache.spark.sql.DataFrame,
        viaDf: org.apache.spark.sql.DataFrame, what: String): Unit = {
      assert(viaDf.count() > 0, s"$what: empty DataFrame result")
      assert(viaSql.exceptAll(viaDf).count() === 0 &&
        viaDf.exceptAll(viaSql).count() === 0, what)
    }

    // J3/A6 — star join + grouped revenue rollup (decimal-exact sum)
    val sqlStar = spark.sql(
      """SELECT r_name, n_name, month(o_orderdate) AS order_month,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(30,10))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name, month(o_orderdate)""".stripMargin)
    val dfStar = SparkEntry.queries("q_star_join")(spark, sf)
    assertSame(sqlStar, dfStar, "star join")

    // D1 — keep-first dedup via row_number
    val sqlDedup = spark.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn = 1""".stripMargin)
    val dfDedup = SparkEntry.queries("q_dedup_first")(spark, sf)
    assertSame(sqlDedup, dfDedup, "keep-first dedup")

    // W1/W2 — grouped forward-fill then backward-fill over injected nulls
    val sqlFill = spark.sql(
      """SELECT event_id, user_id, ts,
        |  coalesce(
        |    last(value_n, true) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    first(value_n, true) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS value_filled
        |FROM (SELECT event_id, user_id, ts,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value_n
        |  FROM events)""".stripMargin)
    val dfFill = SparkEntry.queries("q_ffill_bfill")(spark, sf)
    assertSame(sqlFill, dfFill, "ffill/bfill")
  }

  // one events.parquet FILE (not dir) per layout, like the real testdata
  private def landEvents(df: org.apache.spark.sql.DataFrame): String = {
    val dir = Files.createTempDirectory("graft_layout").toString
    df.coalesce(1).write.parquet(s"$dir/tmp")
    val f = new java.io.File(s"$dir/tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(f.toPath, java.nio.file.Path.of(s"$dir/events.parquet"))
    dir
  }

  private lazy val layoutBase = Seq(
    (1L, "2024-03-01 00:00:00.123456", 10L, "view", 1.5),
    (2L, "2024-03-02 12:34:56.789012", 11L, "purchase", 2.5)
  ).toDF("event_id", "s", "user_id", "event_type", "value")

  test("ts layouts: Long-nanos, µs-NTZ and TIMESTAMP all normalize to identical instants") {
    // the testdata's physical ts layout has drifted across generations
    // (TIMESTAMP(NANOS) → timestamp[us]); pin all three arrival dtypes so
    // the next drift breaks HERE, not silently in 14 queries
    val nanosDir = landEvents(layoutBase
      .withColumn("ts", unix_micros(to_timestamp($"s")) * 1000).drop("s"))
    val ntzDir = landEvents(layoutBase
      .withColumn("ts", to_timestamp_ntz($"s")).drop("s"))
    val tsDir = landEvents(layoutBase
      .withColumn("ts", to_timestamp($"s")).drop("s"))
    val expect = Seq("2024-03-01 00:00:00.123456", "2024-03-02 12:34:56.789012")
    for (dir <- Seq(nanosDir, ntzDir, tsDir)) {
      val t = Sources.table(spark, dir, "events")
      assert(t.schema("ts").dataType === TimestampType, dir)
      assert(t.orderBy("event_id")
        .select(date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .as[String].collect().toSeq === expect, dir)
    }
    // streaming twin: the footer-sniffed stream schema must yield the
    // same (real, post-2000) event times from every layout
    val candles = Seq(nanosDir, ntzDir, tsDir).map { d =>
      graft.streaming.Streaming.streamingCandles(spark, d)
        .orderBy("user_id", "day")
        .select(date_format($"day", "yyyy-MM-dd").as("day"), $"n", $"vsum")
        .collect().toSeq
    }
    assert(candles(0).map(_.getString(0)) === Seq("2024-03-01", "2024-03-02"))
    assert(candles(0) === candles(1) && candles(1) === candles(2))
  }

  test("eventsStream tripwire fails loudly on a pre-2000 normalized ts") {
    // simulate the NEXT layout drift: int64 epoch-µs arriving as Long —
    // the nanos path divides by 1000 again, lands in 1970, and the
    // stream's sanity check must throw instead of silently corrupting
    val badDir = landEvents(layoutBase
      .withColumn("ts", unix_micros(to_timestamp($"s"))).drop("s"))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streaming.streamingCandles(spark, badDir)
    }
    assert(e.getMessage.contains("sanity"))
  }

  test("multimodal decode emits one feature row per document with real bytes") {
    val docs = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val feats = graft.operators.Multimodal.decodeFeatures(
      graft.operators.Multimodal.withPayload(docs, $"doc_id", $"text", $"n_chars"))
    assert(feats.count() === docs.count())
    // payload length == n_chars for this ASCII corpus
    val bad = feats.join(docs, "doc_id")
      .filter($"n_bytes" =!= $"n_chars").count()
    assert(bad === 0)
  }

  test("imageBlockHash: stable fingerprint, local edit within the Hamming band bound") {
    import graft.operators.Multimodal
    val docs = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
      .filter($"doc_id" < 60).select($"doc_id", $"text")
    // codepoints == bytes assumption (the oracle replays via ascii):
    // the synthetic corpus is all-ASCII — fail loudly if that drifts
    assert(docs.filter($"text".rlike("[^\\x00-\\x7F]")).count() === 0)
    val p = Multimodal.withPayload(docs, $"doc_id", $"text", length($"text"))
    val fp1 = Multimodal.imageBlockHash(p, $"doc_id", $"payload", 32)
      .as[(Long, String)].collect().toMap
    assert(fp1.values.forall(s => s.length == 32 && s.forall(c => c == '0' || c == '1')))
    // deterministic: same payload, same fingerprint
    val fp2 = Multimodal.imageBlockHash(p, $"doc_id", $"payload", 32)
      .as[(Long, String)].collect().toMap
    assert(fp2 === fp1)
    // a 5-byte local overwrite stays a NEAR-dup: pair mining over
    // originals + copies finds most copy pairs within hamming <= 3 and
    // (at this corpus size) no original-original pair
    val pert = docs.select(($"doc_id" + 1000L).as("doc_id"),
      concat($"text".substr(lit(1), lit(10)), lit("zzzzz"),
        $"text".substr(lit(16), length($"text"))).as("text"))
    val corpus = Multimodal.withPayload(docs.unionByName(pert),
      $"doc_id", $"text", length($"text"))
    val pairs = Multimodal.imageNearDupPairs(corpus, $"doc_id",
        nBlocks = 32, nBands = 4, maxHam = 3)
      .as[(Long, Long, Int)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_._3 <= 3))
    val copyPairs = pairs.count { case (a, b, _) => b == a + 1000L }
    assert(copyPairs >= 40, s"only $copyPairs of 60 copies within the band bound")
    assert(copyPairs === pairs.length,
      "unexpected original-original perceptual collision in this fixture")
  }
}
