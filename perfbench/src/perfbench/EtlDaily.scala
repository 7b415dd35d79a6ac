package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Transforms
import graft.schemas.Warehouse
import graft.sinks.Sinks
import graft.sources.Sources

/** One day of the reference's three flows (news, posts, bars): read the
  * day's raw payloads, transform, conform to the warehouse schemas,
  * check uniqueness, write the date-partitioned lake and append the new
  * keys to a warehouse pre-seeded with two earlier days plus a
  * seed-chosen quarter of today's keys. */
final class EtlDaily(spark: SparkSession, dir: File, seed: Long) extends Workload {
  import EtlDaily._

  private val g = new Gen(seed)
  private val dayDir = new File(dir, "day")
  private val pristineWh = new File(dir, "warehouse_pristine")
  private val wh = new File(dir, "warehouse")
  private val lake = new File(dir, "lake")
  private var expected = Map.empty[String, Long]
  private var inputRows = 0L

  /** Keys of day `day` (0 = today, -1 and -2 = the days already loaded). */
  private def dayKey(day: Column, k: Column): Column = (day + 10) * 10000000L + k
  private def dayStart(day: Column): Column = lit(today) + day * 86400L
  /** A seed-chosen quarter of today's keys is already in the warehouse. */
  private def seen(key: Column): Column = g.pick("seen", 4, key) === 0
  /** Whole symbols are either already loaded or new (the bar fill runs
    * per symbol, so a partial symbol would fill differently). */
  private def seenSymbol(s: Column): Column = g.pick("seen", 4, s) === 0

  /** Today's rows per key: copy 0, a duplicate (copy 1) for about half
    * the keys, and, when `junkEvery` > 0, a junk row (copy 2) for one
    * key in `junkEvery`, which the transform must drop. */
  private def copies(nKeys: Long, junkEvery: Int): DataFrame = {
    val junk =
      if (junkEvery > 0) col("r") === 2 && g.pick("junk", junkEvery, col("key")) === 0
      else lit(false)
    g.rows(spark, nKeys * 3, parts)
      .select(dayKey(lit(0), (col("id") / 3).cast("long")).as("key"),
        (col("id") % 3).as("r"), col("id").as("ingest"))
      .filter(col("r") === 0 || (col("r") === 1 && g.pick("dup", 2, col("key")) === 0) || junk)
  }

  private def newsRaw: DataFrame = {
    val rowKey = col("key") * 3 + col("r")
    val text = g.words("text", rowKey, lit(30) + g.pick("len", 90, rowKey).cast("int"))
    copies(newsKeys, 0).select(
      concat(lit(newsUrl), col("key")).as("url"),
      when(g.pick("author_null", 5, rowKey) === 0, lit(null))
        .otherwise(concat(lit("author_"), g.pick("author", 40, col("key")))).as("author"),
      when(g.pick("title_null", 7, rowKey) === 0, lit(null))
        .otherwise(concat(lit("Title "), g.words("title", col("key"), lit(6)))).as("title"),
      when(g.pick("desc_null", 9, rowKey) === 0, lit(null))
        .otherwise(substring(text, 1, 50)).as("description"),
      when(g.pick("content_null", 3, rowKey) === 0, lit(null))
        .otherwise(concat(lit("<p>"), text, lit(" https://t.example/"), col("key"),
          lit("</p> [+"), length(text), lit(" chars]"))).as("content"),
      concat(lit("http://img.example/"), col("key")).as("urlToImage"),
      struct(element_at(array(langs.map(lit): _*),
          (g.pick("lang", langs.size, col("key")) + 1).cast("int")).as("id"),
        concat(lit("src"), g.pick("source", 10, col("key"))).as("name")).as("source"),
      date_format(timestamp_seconds(dayStart(lit(0)) + g.pick("pub", 86400, col("key"))),
        "yyyy-MM-dd HH:mm:ss").as("publishedAt"),
      col("ingest"))
  }

  /** Per-key post fields that decide whether the key survives: it does
    * unless its subreddit is missing, or it is a link post without an
    * article timestamp. */
  private def postFlags(key: Column): Seq[Column] = Seq(
    (g.pick("sub_null", 23, key) === 0).as("no_sub"),
    (g.pick("text_post", 2, key) === 0).as("is_text_post"),
    when(g.pick("apa_empty", 29, key) === 0, lit(""))
      .when(g.pick("apa_null", 31, key) === 0, lit(null))
      .otherwise(lit("2024-03-01 08:00:00")).as("article_published_at"))

  private def postSurvives: Column =
    !col("no_sub") && (col("is_text_post") ||
      coalesce(col("article_published_at") =!= "", lit(false)))

  private def postsRaw: DataFrame = {
    val rowKey = col("key") * 3 + col("r")
    val junk = col("r") === 2 // a row without an id
    copies(postKeys, junkEvery = 25)
      .select(Seq(col("key"), col("r"), col("ingest")) ++ postFlags(col("key")): _*)
      .select(
        when(junk, lit(null)).otherwise(concat(lit("t3_"), col("key"))).as("reddit_id"),
        when(col("no_sub"), lit(null))
          .otherwise(concat(lit("sub"), g.pick("sub", 8, col("key")))).as("subreddit"),
        concat(lit("Post about "), g.words("ptitle", col("key"), lit(5))).as("title"),
        when(g.pick("self_null", 3, rowKey) === 0, lit(null))
          .otherwise(g.words("self", rowKey, lit(10) + g.pick("slen", 40, rowKey).cast("int")))
          .as("selftext"),
        when(g.pick("score_null", 11, rowKey) === 0, lit(null))
          .otherwise(g.pick("score", 5000, rowKey)).as("score"),
        when(g.pick("ncom_null", 13, rowKey) === 0, lit(null))
          .otherwise(g.pick("ncom", 300, rowKey)).as("num_comments"),
        col("is_text_post"),
        when(col("is_text_post"), lit(null))
          .otherwise(concat(lit(newsUrl), g.pick("link", 100000, col("key")))).as("url"),
        when(g.pick("flair_null", 19, rowKey) === 0, lit(null))
          .otherwise(concat(lit("flair"), g.pick("flair", 3, rowKey))).as("link_flair_text"),
        when(g.pick("ratio_null", 23, rowKey) === 0, lit(null))
          .otherwise(lit(0.5) + g.pick("ratio", 50, rowKey).cast("double") / 100.0)
          .as("upvote_ratio"),
        when(junk, concat(lit("/r/junk/"), rowKey))
          .otherwise(concat(lit("/r/sub/comments/"), col("key"))).as("permalink"),
        (dayStart(lit(0)) + g.pick("pub", 86400, col("key"))).cast("double").as("published_at"),
        col("article_published_at"),
        when(g.pick("cats", 37, col("key")) === 0, array(lit("news"), lit("markets")))
          .otherwise(array(lit("finance"))).as("article_category"),
        when(g.pick("head_null", 41, rowKey) === 0, lit(null))
          .otherwise(lit("Headline")).as("article_headline"),
        col("ingest"))
  }

  /** (day, symbol, minute) rows of bars over the last `days` days. */
  private def barRows(days: Int): DataFrame = {
    val perDay = symbols.toLong * barsPerSymbol
    g.rows(spark, perDay * days, parts).select(
      (lit(1 - days) + (col("id") / perDay).cast("int")).as("day"),
      ((col("id") % perDay) / barsPerSymbol).cast("long").as("s"),
      (col("id") % barsPerSymbol).as("i"))
  }

  private def barTs: Column = timestamp_seconds(dayStart(col("day")) + 34200L + col("i") * 60)

  private def barsRaw: DataFrame = {
    val px = (lit(50.0) + g.pick("base", 5000, col("s")).cast("double") / 100 +
      (g.pick("move", 200, col("s"), col("i")) - 100).cast("double") / 100).cast("string")
    // the first bar of every symbol is complete, so forward/backward fill
    // always finds a value and no bar is dropped
    def gap(salt: String, every: Int): Column =
      col("i") > 0 && g.pick(salt, every, col("s"), col("i")) === 0
    barRows(1).select(
      concat(lit("S"), col("s")).as("symbol"),
      date_format(barTs, "yyyy-MM-dd HH:mm:ss").as("timestamp"),
      when(gap("open", 7), lit(null)).otherwise(px).as("open"),
      when(gap("high", 11), lit("junk")).otherwise(px).as("high"),
      when(gap("low", 13), lit(null)).otherwise(px).as("low"),
      px.as("close"),
      when(gap("vwap", 5), lit(null)).otherwise(px).as("vwap"),
      when(g.pick("vol_null", 3, col("s"), col("i")) === 0, lit(null))
        .otherwise(g.pick("vol", 1000, col("s"), col("i")).cast("string")).as("volume"),
      when(g.pick("tc_junk", 17, col("s"), col("i")) === 0, lit("x"))
        .otherwise(g.pick("tc", 50, col("s"), col("i")).cast("string")).as("trade_count"))
  }

  /** Keys of the two loaded days, plus today's keys for which `today`
    * holds. */
  private def loadedKeys(nKeys: Long, today: Column => Column): DataFrame =
    g.rows(spark, nKeys * 3, parts)
      .select(((col("id") / nKeys).cast("int") - 2).as("day"), (col("id") % nKeys).as("k"))
      .withColumn("key", dayKey(col("day"), col("k")))
      .filter(col("day") < 0 || today(col("key")))

  /** The pristine warehouse, generated directly in each table's schema
    * (only the keys matter to the op's anti-join append). */
  private def history: Seq[(String, DataFrame)] = {
    val text = g.words("history", col("key"), lit(20))
    Seq(
      "articles" -> loadedKeys(newsKeys, seen).select(col("day"),
        sha2(concat(lit(newsUrl), col("key")), 256).as("id"),
        concat(lit("Title "), col("key")).as("title"),
        concat(lit("title "), col("key")).as("title_cleaned"),
        text.as("content"), text.as("content_cleaned"),
        timestamp_seconds(dayStart(col("day"))).as("published_at"),
        lit("src0").as("source_name"),
        concat(lit(newsUrl), col("key")).as("url")),
      "reddit_posts" -> loadedKeys(postKeys, seen).select(col("day"),
        sha2(concat(lit("t3_"), col("key")), 256).as("id"),
        concat(lit("t3_"), col("key")).as("reddit_id"),
        lit("sub0").as("subreddit"), concat(lit("Post "), col("key")).as("title"),
        lit(1).as("score"), lit(0).as("number_of_comments"), lit(true).as("is_text_post"),
        lit("No category").as("subreddit_category"), lit(0.5).as("upvote_ratio"),
        timestamp_seconds(dayStart(col("day"))).as("published_at"),
        concat(lit("/r/sub/comments/"), col("key")).as("reddit_post_url")),
      "stock_bars" -> barRows(3).filter(col("day") < 0 || seenSymbol(col("s")))
        .select(col("day"),
          sha2(concat_ws("|", col("s"), col("day"), col("i")), 256).as("id"),
          concat(lit("S"), col("s")).as("company_id"), barTs.as("timestamp"),
          lit(50.0).as("open_price"), lit(50.0).as("high_price"), lit(50.0).as("low_price"),
          lit(50.0).as("close_price"), lit(0).as("volume"), lit(0).as("trade_count"),
          lit(50.0).as("vwap"))
    ).map { case (table, df) => table -> stamp(df, dayStart(col("day"))) }
  }

  private def stamp(df: DataFrame, dayStart: Column): DataFrame = {
    val loaded = timestamp_seconds(dayStart + 86399L)
    df.withColumn("created_at", loaded).withColumn("updated_at", loaded)
  }

  def setup(): Unit = {
    FileState.wipe(dir)
    Seq("news" -> newsRaw, "posts" -> postsRaw, "bars" -> barsRaw).foreach { case (f, df) =>
      df.write.parquet(s"$dayDir/${f}_raw.parquet")
    }
    inputRows = Seq("news", "posts", "bars").map(f =>
      spark.read.parquet(s"$dayDir/${f}_raw.parquet").count()).sum
    // the new keys the op must append, counted from the generator's own
    // key flags, independently of the transforms and of appendNew
    def todayKeys(n: Long) = g.rows(spark, n, parts).select(dayKey(lit(0), col("id")).as("key"))
    expected = Map(
      "articles" -> todayKeys(newsKeys).filter(!seen(col("key"))).count(),
      "reddit_posts" -> todayKeys(postKeys)
        .select(col("key") +: postFlags(col("key")): _*)
        .filter(postSurvives && !seen(col("key"))).count(),
      "stock_bars" -> barRows(1).filter(!seenSymbol(col("s"))).count())
    history.foreach { case (table, df) =>
      conform(df, table).write.parquet(s"$pristineWh/$table")
    }
  }

  def setupCounters: Map[String, Double] = Map(
    "sources.input_rows" -> inputRows.toDouble,
    "sources.input_bytes" -> FileState.usage(dayDir)._2.toDouble)

  def mutableDirs: Seq[(File, File)] =
    Seq(pristineWh -> wh, new File(dir, "no_lake") -> lake)

  private def conform(df: DataFrame, table: String): DataFrame =
    Warehouse.conform(df, tables(table)._1)

  /** Transform one flow. The output feeds four consumers (two checks,
    * two sinks), so it is cached once and released after the op. */
  private def transform(flow: String, t: Tracer)(run: => DataFrame): DataFrame = {
    val out = t.span(s"transforms.$flow")(t.force(run.persist(StorageLevel.MEMORY_AND_DISK)))
    t.countRows("transforms.rows_out", out)
    out
  }

  def op(t: Tracer): OpResult = {
    val raw = t.span("sources.read") {
      Seq("news", "posts", "bars").map(f =>
        f -> t.force(Sources.table(spark, dayDir.toString, s"${f}_raw"))).toMap
    }
    val news = transform("news", t)(Transforms.transformNews(raw("news"), col("ingest")))
    val posts = transform("posts", t)(Transforms.transformPosts(raw("posts"), col("ingest")))
    val bars = transform("bars", t)(Transforms.transformBars(raw("bars")))
    try {
      val conformed = t.span("schemas.conform") {
        Seq("articles" -> news, "reddit_posts" -> posts,
          "stock_bars" -> bars.select(
            sha2(concat_ws("|", col("ticker"), col("timestamp").cast("string")), 256).as("id"),
            col("ticker").as("company_id"), col("timestamp"),
            col("open").as("open_price"), col("high").as("high_price"),
            col("low").as("low_price"), col("close").as("close_price"),
            col("volume"), col("trade_count"), col("vwap"))
        ).map { case (table, df) => table -> t.force(conform(stamp(df, lit(today)), table)) }
      }
      val violations = t.span("schemas.uniqueness") {
        conformed.map { case (table, df) =>
          Warehouse.uniqueKeys(table).map(k =>
            Warehouse.uniquenessViolations(df, k).count()).sum
        }.sum
      }
      t.span("sinks.write_partitioned") {
        conformed.foreach { case (table, df) =>
          Sinks.writePartitioned(df, s"$lake/$table", todayStr)
        }
      }
      val appended = t.span("sinks.append_new") {
        conformed.map { case (table, df) =>
          table -> Sinks.appendNew(df, s"$wh/$table", tables(table)._2)
        }.toMap
      }
      val (lakeFiles, lakeBytes) = FileState.usage(lake)
      val (whFiles, whBytes) = FileState.addedSince(pristineWh, wh)
      val rowsOut = t.opCounters.getOrElse("transforms.rows_out", 0.0)
      t.add("transforms.rows_kept_ratio", rowsOut / inputRows)
      t.add("schemas.uniqueness_violations", violations.toDouble)
      t.add("sinks.rows_offered", rowsOut)
      t.add("sinks.rows_appended", appended.values.sum.toDouble)
      t.add("sinks.append_ratio", appended.values.sum / math.max(rowsOut, 1.0))
      t.add("sinks.files_written", (lakeFiles + whFiles).toDouble)
      t.add("sinks.bytes_written", (lakeBytes + whBytes).toDouble)
      OpResult(lakeBytes + whBytes, Workload.expect(
        (violations == 0L) -> s"$violations uniqueness violations",
        (appended == expected) -> s"appended $appended, expected $expected"))
    } finally Seq(news, posts, bars).foreach(_.unpersist())
  }
}

object EtlDaily {
  val newsKeys = 4000L
  val postKeys = 12000L
  val symbols = 30
  val barsPerSymbol = 500
  val parts = 3
  val langs = Seq("en", "de", "fr", "es", "zh")
  val newsUrl = "https://news.example.com/a/"
  val todayStr = "2024-03-10"
  val today: Long = java.time.LocalDate.parse(todayStr).toEpochDay * 86400L

  /** Warehouse schema and the key `appendNew` dedups on, per table. */
  val tables: Map[String, (org.apache.spark.sql.types.StructType, Seq[String])] = Map(
    "articles" -> (Warehouse.articleSchema, Seq("url")),
    "reddit_posts" -> (Warehouse.redditPostSchema, Seq("reddit_id")),
    "stock_bars" -> (Warehouse.stockBarSchema, Seq("company_id", "timestamp")))
}
