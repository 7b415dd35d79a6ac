package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Text
import graft.operators.{Analytics, Dedup, Fill, Transforms}

/** Unit specs for the §2 operator semantics over tiny in-memory frames,
  * covering the edge cases the reference encodes (SURVEY.md §5.2):
  * missing columns, empty input, all-null fill groups, text cleaning.
  */
class TransformsSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  // --- F1 clean_text_for_nlp -------------------------------------------

  test("redactPii masks emails, IPs, and phone shapes; dates and years survive") {
    val rows = Seq(
      "mail me at john.doe+x@sub.example.org today",
      "server at 192.168.0.1 responded",
      "call +44 (0)20 7946-0958 now",
      "or dial 555-123-4567 or (555) 123 4567 instead",
      "clean text with numbers 42 and 7 only",
      // phone-SHAPED only: dates/years/versions must keep training value
      "released 2024-03-15 in 2012 2013 2014 as v1.2.3456").toDF("t")
    val got = rows.select(Text.redactPii(col("t")).as("c")).as[String].collect()
    assert(got(0) === "mail me at <EMAIL> today")
    assert(got(1) === "server at <IP> responded")
    assert(got(2) === "call <PHONE> now")
    assert(got(3) === "or dial <PHONE> or <PHONE> instead")
    assert(got(4) === "clean text with numbers 42 and 7 only")
    assert(got(5) === "released 2024-03-15 in 2012 2013 2014 as v1.2.3456")
  }

  test("canonicalizeUrl normalizes case/ports/tracking/fragments, keeps real params") {
    val rows = Seq(
      "HTTPS://News.Example.COM:443/a/1?utm_source=x&utm_medium=y#top",
      "http://example.com:80/path/?id=9&utm_campaign=z",
      "https://example.com/a/1",
      "https://example.com/",
      "http://Example.com/p?fbclid=abc&keep=1",
      "https://example.com/p?keep=1&gclid=tag",
      // review corner cases: longer names are NOT tracking params, a
      // path segment is never touched, and a non-default port survives
      "https://example.com/p?refbclid=1&id=2",
      "https://example.com/utm_source=feed/page",
      "http://example.com:443/x",
      "https://example.com:80/x").toDF("t")
    val got = rows.select(Text.canonicalizeUrl(col("t")).as("c")).as[String].collect()
    assert(got(0) === "https://news.example.com/a/1")
    assert(got(1) === "http://example.com/path?id=9")
    assert(got(2) === "https://example.com/a/1")
    assert(got(3) === "https://example.com")
    assert(got(4) === "http://example.com/p?keep=1")
    assert(got(5) === "https://example.com/p?keep=1")
    assert(got(6) === "https://example.com/p?refbclid=1&id=2")
    assert(got(7) === "https://example.com/utm_source=feed/page")
    assert(got(8) === "http://example.com:443/x")
    assert(got(9) === "https://example.com:80/x")
  }

  test("resizePlan lands the driving dimension exactly on target") {
    // 277×100 → scale 224/277; bare floor(277·scale) is 223 in IEEE
    // doubles — the driving dimension must be exactly 224
    val df = Seq((277, 100), (640, 480), (100, 50)).toDF("w", "h")
      .select(struct(col("w").as("width"), col("h").as("height")).as("meta"))
    val got = graft.operators.Multimodal.resizePlan(df, target = 224)
      .select("meta.width", "out_w", "out_h", "resized")
      .as[(Int, Int, Int, Boolean)].collect().sortBy(_._1)
    assert(got(0) === ((100, 100, 50, false)))   // already small: untouched
    assert(got(1) === ((277, 224, 81, true)))    // 100·224/277 = 80.9 → 81
    assert(got(2) === ((640, 224, 168, true)))   // 480·224/640 = 168
  }

  /** The regex chain `cleanTextForNlp` ran before it became one native
    * expression — the reference the native cleaner must equal byte for
    * byte (Java default-mode regex: ASCII `\w`, `\s`, `\d`). */
  private def regexClean(c: org.apache.spark.sql.Column) = {
    val lowered   = lower(coalesce(c, lit("")))
    val noTags    = regexp_replace(lowered, "<[^>]+>", "")
    val noUrls    = regexp_replace(noTags, "http\\S+|www\\S+|https\\S+", "")
    val noTrunc   = regexp_replace(noUrls, "\\[\\+\\d+ chars\\]", "")
    val alnumOnly = regexp_replace(noTrunc, "[^\\w\\s.!?]", "")
    trim(regexp_replace(alnumOnly, "\\s+", " "))
  }

  test("cleanTextForNlp strips tags, urls, truncation markers, junk") {
    val df = Seq(
      ("<b>Hello</b> WORLD http://x.co/a?b=1 rest", "hello world rest"),
      ("Truncated story [+1234 chars]", "truncated story"),
      ("keep.words! and?  spaces,;#", "keep.words! and? spaces"),
      // each step works on the previous step's output: a tag strip can
      // expose a URL or a truncation marker, a URL strip a marker;
      // \d is ASCII only, U+0085 and U+00A0 are not \s
      ("ht<b>tp://x", ""),
      ("ww<i>w.x.com y", "y"),
      ("a[+1<b> chars]", "a"),
      ("[+1http:x chars]z", "z"),
      ("[+12 CHARS] kept", "kept"),
      ("[+\u0661\u0662 chars]", "chars"),
      ("a <> b", "a b"),
      ("unclosed <tag here", "unclosed tag here"),
      ("end http", "end http"),
      ("x\u000By\fz", "x y z"),
      ("x\u0085y\u00A0z", "xyz"),
      ("", ""),
      (null.asInstanceOf[String], "")
    ).toDF("in", "want")
    val got = df.select($"in", Text.cleanTextForNlp($"in").as("got"),
      regexClean($"in").as("ref"), $"want").collect()
    got.foreach { r =>
      assert(r.getString(1) === r.getString(3), s"input ${r.getString(0)}")
      assert(r.getString(2) === r.getString(3), s"reference, input ${r.getString(0)}")
    }
  }

  test("cleanTextForNlp equals the regex chain on 120k adversarial strings") {
    // pieces that sit on each step's edges: tags (closed, unclosed,
    // empty, nested), URL heads before every whitespace kind and at the
    // end, truncation-marker near-misses, a non-ASCII digit, the six
    // Java \s chars and two Unicode spaces Java's \s excludes (U+0085,
    // U+00A0), case-mapping specials (é, İ, the Kelvin sign), an emoji
    // and a lone surrogate
    val alphabet = Array(
      "<", ">", "<>", "<b>", "</p>", "<<a>", "<a href=x>", "< >",
      "http", "HTTP", "https", "www", "WWW", "w", "ht", "tp", "://", "x.co/a?b=1",
      "[", "]", "+", "[+", "[+12 chars]", "[+0 chars]", "[+ chars]", "[+12 chars",
      "[+12 CHARS]", " chars]", "12", "\u0661",
      " ", "  ", "\t", "\n", "\u000B", "\f", "\r", "\u0085", "\u00A0",
      "\u00E9", "\u0130", "\u212A", "\uD83D\uDE00", "\uD800",
      "a", "Z", "_", "0", "9", ".", "!", "?", ",", "#", "-", "chars", "word")
    val r = new scala.util.Random(20261019)
    val texts = (0 until 120000).map { i =>
      val s = if (r.nextInt(50) == 0) null
        else Seq.fill(r.nextInt(15))(alphabet(r.nextInt(alphabet.length))).mkString
      (i, s)
    }
    val df = texts.toDF("i", "t")
      .select($"i", $"t", Text.cleanTextForNlp($"t").as("got"),
        regexClean($"t").as("ref"))
    val bad = df.filter(!($"got" <=> $"ref"))
    val nBad = bad.count()
    assert(nBad === 0, bad.limit(5).collect().map(r =>
      s"\n  in=${r.get(1)} got=${r.get(2)} ref=${r.get(3)}").mkString)
  }

  // --- D1/D2 keep-first dedup ------------------------------------------

  test("keepFirst keeps the row with the smallest order column") {
    val df = Seq(("a", 2, "second"), ("a", 1, "first"), ("b", 5, "only"))
      .toDF("k", "ord", "v")
    val out = Dedup.keepFirst(df, Seq("k"), Seq($"ord")).orderBy("k")
      .select("v").as[String].collect()
    assert(out.toSeq === Seq("first", "only"))
  }

  test("keepFirst is idempotent") {
    val df = Seq(("a", 2), ("a", 1), ("b", 3)).toDF("k", "ord")
    val once = Dedup.keepFirst(df, Seq("k"), Seq($"ord"))
    val twice = Dedup.keepFirst(once, Seq("k"), Seq($"ord"))
    assert(once.orderBy("k").collect().toSeq === twice.orderBy("k").collect().toSeq)
  }

  // --- D3 anti-join / K2 idempotent append -----------------------------

  test("idempotentAppend adds zero rows when reloading the same batch") {
    val existing = Seq((1, "x"), (2, "y")).toDF("id", "v")
    val once = Dedup.idempotentAppend(existing, existing, Seq("id"))
    assert(once.count() === 2)
    val incoming = Seq((2, "y2"), (3, "z")).toDF("id", "v")
    val merged = Dedup.idempotentAppend(existing, incoming, Seq("id"))
    assert(merged.count() === 3) // id=2 not duplicated, id=3 appended
  }

  // --- W1/W2 fill -------------------------------------------------------

  test("ffillBfill: mid nulls take previous, leading take following, all-null stays null") {
    val df = Seq(
      ("g1", 1, Some(10.0)), ("g1", 2, None), ("g1", 3, Some(30.0)),
      ("g2", 1, None), ("g2", 2, Some(5.0)),
      ("g3", 1, None), ("g3", 2, None)
    ).toDF("k", "t", "v")
    val out = df.withColumn("f",
        Fill.ffillBfill(Seq($"k"), Seq($"t"))($"v"))
      .orderBy("k", "t").select("f").collect().map(r => Option(r.get(0)))
    assert(out.toSeq === Seq(
      Some(10.0), Some(10.0), Some(30.0), // g1: ffill
      Some(5.0), Some(5.0),               // g2: bfill leading null
      None, None))                        // g3: all-null untouched
  }

  test("variant_get extracts typed values; missing paths and wrong types are null-safe") {
    val df = Seq(
      (1L, """{"k": 42, "tag": "a"}"""),
      (2L, """{"tag": "b"}"""),          // no k
      (3L, """{"k": "not-an-int"}""")    // wrong type
    ).toDF("id", "props")
    val rows = df.select(
        try_variant_get(parse_json(col("props")), "$.k", "int").as("k_try"))
      .orderBy(col("k_try").asc_nulls_last)
      .as[Option[Int]].collect()
    assert(rows.toSeq === Seq(Some(42), None, None))
    // strict variant_get agrees on present/missing rows; the wrong-type
    // row must be excluded BEFORE the projection (strict throws on it,
    // and a filter above the select does not shield the eval)
    val strict = df.filter(col("id") < 3)
      .select(variant_get(parse_json(col("props")), "$.k", "int").as("k"))
      .orderBy(col("k").asc_nulls_last)
      .as[Option[Int]].collect()
    assert(strict.toSeq === Seq(Some(42), None))
  }

  test("debounce chains gaps within tolerance and keeps each burst's first event") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(base.getTime + s * 1000L)
    val df = Seq(
      // one chained burst: 0 → 5 → 10 (each gap = tol), then a break
      (1L, "u1", at(0), "click"), (2L, "u1", at(5), "click"),
      (3L, "u1", at(10), "click"), (4L, "u1", at(16), "click"),
      // other key: untouched singleton
      (5L, "u2", at(0), "click")
    ).toDF("event_id", "u", "ts", "typ")
    val out = Dedup.debounce(df, Seq(col("u"), col("typ")), col("ts"),
        Seq(col("event_id")), toleranceSec = 5L)
      .orderBy("u", "burst")
      .select("event_id", "burst", "n_in_burst")
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq === Seq(
      (1L, 1L, 3L),  // burst absorbed events 2 and 3
      (4L, 2L, 1L),  // gap 6 > 5 broke the chain
      (5L, 1L, 1L)))
  }

  test("zValue interleaves bits; clusterByZOrder yields disjoint z-ranges per partition") {
    import graft.operators.Layout
    // x = 3 (011), y = 5 (101) → z bits y2 x2 y1 x1 y0 x0 = 100111 = 39
    val z = spark.range(1).select(
      Layout.zValue(lit(3L), lit(5L), bits = 3).as("z"))
      .as[Long].head()
    assert(z === 39L)

    val grid = spark.range(4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    val parts = Layout.clusterByZOrder(grid, col("x"), col("y"),
        bits = 6, numPartitions = 8)
      .select(org.apache.spark.sql.functions.spark_partition_id().as("pid"),
        Layout.zValue(col("x"), col("y"), 6).as("z"))
      .groupBy("pid").agg(min("z").as("zmin"), max("z").as("zmax"))
      .orderBy("pid")
      .as[(Int, Long, Long)].collect()
    assert(parts.length > 1)
    parts.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._2, s"partition z-ranges overlap: $a vs $b")
    }
  }

  test("gapFillHourly: spine covers every hour, gaps flagged and forward-filled") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 00:10:00"), 2.0),
      (1L, ts("2024-01-01 00:50:00"), 4.0), // hour 00 mean = 3.0
      (1L, ts("2024-01-01 01:30:00"), 5.0),
      // hour 02 missing entirely — only a spine can restore the row
      (1L, ts("2024-01-01 03:00:00"), 7.0),
      (2L, ts("2024-01-01 10:00:00"), 1.0)  // single-hour group: no gaps
    ).toDF("user_id", "ts", "v")
    val out = Fill.gapFillHourly(df, col("user_id"), col("ts"), col("v"))
      .orderBy("key", "h")
      .select("key", "is_gap", "v_filled")
      .as[(Long, Boolean, Double)].collect()
    assert(out.toSeq === Seq(
      (1L, false, 3.0), (1L, false, 5.0),
      (1L, true, 5.0),  // the missing hour materialized and filled
      (1L, false, 7.0),
      (2L, false, 1.0)))
  }

  test("interpolateLinear: time-weighted blend interior, ffill/bfill at edges") {
    val df = Seq(
      // g1: gap of 2 nulls between 10.0@t=0 and 40.0@t=30 → blend at 10, 20
      ("g1", 0L, Some(10.0)), ("g1", 10L, None), ("g1", 20L, None),
      ("g1", 30L, Some(40.0)),
      // uneven spacing: null at t=25 between 0.0@t=20... reuse g2:
      ("g2", 0L, Some(0.0)), ("g2", 5L, None), ("g2", 20L, Some(8.0)),
      // g3: leading + trailing nulls
      ("g3", 0L, None), ("g3", 1L, Some(7.0)), ("g3", 2L, None)
    ).toDF("k", "t", "v")
    val out = df.withColumn("f",
        Fill.interpolateLinear(Seq($"k"), Seq($"t"))($"v", $"t"))
      .orderBy("k", "t").select("f").collect().map(r => Option(r.get(0)))
    assert(out.toSeq === Seq(
      Some(10.0), Some(20.0), Some(30.0), Some(40.0), // g1 even blend
      Some(0.0), Some(2.0), Some(8.0),                // g2: 8 * 5/20
      Some(7.0), Some(7.0), Some(7.0)))               // g3 edge fills
  }

  test("ffillBfill and interpolateLinear are bit-identical to the unbounded-following frame form") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    // the frame formulas the running-window form replaced, inlined
    def w(p: Seq[Column], o: Seq[Column]) = Window.partitionBy(p: _*).orderBy(o: _*)
    def prev(p: Seq[Column], o: Seq[Column])(c: Column) = last(c, ignoreNulls = true)
      .over(w(p, o).rowsBetween(Window.unboundedPreceding, Window.currentRow))
    def next(p: Seq[Column], o: Seq[Column])(c: Column) = first(c, ignoreNulls = true)
      .over(w(p, o).rowsBetween(Window.currentRow, Window.unboundedFollowing))
    def oldInterp(p: Seq[Column], o: Seq[Column])(v: Column, t: Column) = {
      val (pv, pt) = (prev(p, o)(v), prev(p, o)(when(v.isNotNull, t)))
      val (nv, nt) = (next(p, o)(v), next(p, o)(when(v.isNotNull, t)))
      when(v.isNotNull, v).when(pv.isNull, nv).when(nv.isNull, pv)
        .when(nt === pt, pv)
        .otherwise(pv + (nv - pv) * ((t - pt).cast("double") / (nt - pt).cast("double")))
    }
    // groups of 0..40 rows; each group draws its own null pattern:
    // leading, middle and trailing runs, all-null, or none
    val rnd = new scala.util.Random(20240310L)
    val rows = (0 until 60).flatMap { g =>
      val n = rnd.nextInt(41)
      val pattern = g % 5
      val ts = rnd.shuffle((0 until n).map(i => i * 1000L + rnd.nextInt(900))).toIndexedSeq
      (0 until n).map { i =>
        val isNull = pattern match {
          case 0 => i < n / 3                                // leading run
          case 1 => i >= n / 3 && i < 2 * n / 3              // middle run
          case 2 => i >= 2 * n / 3                           // trailing run
          case 3 => true                                     // all null
          case _ => rnd.nextInt(3) == 0                      // scattered
        }
        val v = rnd.nextInt(20) match {
          case 0 => -0.0
          case 1 => Double.NaN
          case k => rnd.nextGaussian() * math.pow(10, k % 7 - 3)
        }
        // `a` repeats and has nulls, so the two-key orders exercise
        // every direction and null placement; (a, t) stays total
        val a = if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(3))
        (s"g$g", ts(i), a, if (isNull) None else Some(v))
      }
    }
    val df = rows.toDF("k", "t", "a", "v")
    val orders = Seq(
      Seq($"t"),
      Seq($"t".desc),
      Seq($"a", $"t"),
      Seq($"a".asc_nulls_last, $"t".desc),
      Seq($"a".desc, $"t".desc_nulls_first),
      Seq($"a".desc_nulls_first, $"t".asc_nulls_last))
    def bits(x: Any): Option[Long] =
      Option(x).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))
    orders.foreach { o =>
      val p = Seq($"k")
      val got = df.select($"k", $"t",
          Fill.ffillBfill(p, o)($"v").as("fb"),
          coalesce(prev(p, o)($"v"), next(p, o)($"v")).as("fb_old"),
          Fill.interpolateLinear(p, o)($"v", $"t").as("ip"),
          oldInterp(p, o)($"v", $"t").as("ip_old"))
        .collect()
      assert(got.length === rows.length)
      val diffs = got.filter(r =>
        bits(r.get(2)) != bits(r.get(3)) || bits(r.get(4)) != bits(r.get(5)))
      assert(diffs.isEmpty, s"order ${o.mkString(", ")}: ${diffs.take(3).mkString("; ")}")
    }
  }

  test("ffillBfill and interpolateLinear fill a null from a tied peer placed after it") {
    // one timestamp, the null row first in input order: the sort keeps
    // tied rows in input order in both the order and the mirrored order,
    // so only a frame that takes in the whole tie group sees the 5
    val df = Seq(("g", 1L, Option.empty[Double]), ("g", 1L, Some(5.0)))
      .toDF("k", "t", "v").coalesce(1)
    Seq(Seq($"t"), Seq($"t".desc)).foreach { o =>
      val got = df.select(
          Fill.ffillBfill(Seq($"k"), o)($"v"),
          Fill.interpolateLinear(Seq($"k"), o)($"v", $"t"))
        .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
      assert(got === Seq.fill(2)((Some(5.0), Some(5.0))), s"order ${o.mkString(", ")}")
    }
  }

  // --- pipelines: totality ---------------------------------------------

  test("transformNews: empty input yields empty output, not an error") {
    val empty = Seq.empty[(String, String, String, String, String)]
      .toDF("url", "title", "content", "description", "publishedAt")
      .withColumn("author", lit(null.asInstanceOf[String]))
    assert(Transforms.transformNews(empty, col("url")).count() === 0)
  }

  test("transformNews: missing optional columns tolerated (no source/urlToImage)") {
    val df = Seq(("u1", "T", "body", "desc", "2024-01-01 00:00:00", "a"))
      .toDF("url", "title", "content", "description", "publishedAt", "author")
    val out = Transforms.transformNews(df, col("url"))
    assert(out.count() === 1)
    assert(out.columns.contains("title_cleaned"))
  }

  test("transformNews: content coalesce + defaults") {
    val df = Seq(
      ("u1", null, null, null, "2024-01-01 00:00:00", null),
      ("u2", "T2", null, "D2", "2024-01-01 00:00:00", "A2"))
      .toDF("url", "title", "content", "description", "publishedAt", "author")
    val out = Transforms.transformNews(df, col("url")).orderBy("url")
      .select("content", "author").collect()
    assert(out(0).getString(0) === "Untitled Article") // content <- defaulted title
    assert(out(0).getString(1) === "No Author")
    assert(out(1).getString(0) === "D2") // content <- description
  }

  test("transformPosts: link posts without article timestamp are dropped") {
    val df = Seq(
      // (reddit_id, subreddit, title, selftext, score, num_comments,
      //  is_text_post, url, link_flair_text, upvote_ratio, permalink,
      //  published_at, article_published_at)
      ("r1", "s", "t", "b", 1L, 1L, false, "http://a", "f", 0.9, "p1", 1.7e9, null),
      ("r2", "s", "t", "b", 1L, 1L, false, "http://a", "f", 0.9, "p2", 1.7e9, "2024-01-01 00:00:00"),
      ("r3", "s", "t", "b", 1L, 1L, true, null, "f", 0.9, "p3", 1.7e9, null))
      .toDF("reddit_id", "subreddit", "title", "selftext", "score",
        "num_comments", "is_text_post", "url", "link_flair_text",
        "upvote_ratio", "permalink", "published_at", "article_published_at")
    val out = Transforms.transformPosts(df, col("reddit_id"))
    assert(out.select("reddit_id").as[String].collect().sorted.toSeq === Seq("r2", "r3"))
  }

  test("transformBars: junk coerces to null then fills; counts zero-filled") {
    val df = Seq(
      ("A", "2024-01-01 00:00:00", "junk", "10"),
      ("A", "2024-01-01 00:01:00", "11.5", null),
      ("A", "2024-01-01 00:02:00", null, "30"))
      .toDF("symbol", "timestamp", "close", "volume")
    val out = Transforms.transformBars(df).orderBy("timestamp")
    assert(out.columns.contains("ticker"))
    val rows = out.select("close", "volume").collect()
    assert(rows.map(_.getDouble(0)).toSeq === Seq(11.5, 11.5, 11.5)) // bfill, raw, ffill
    assert(rows.map(_.getLong(1)).toSeq === Seq(10L, 0L, 30L))
  }

  // --- as-of join -------------------------------------------------------

  test("asOfJoin picks latest quote at-or-before probe ts") {
    val probe = Seq((1L, "k", 100L), (2L, "k", 250L), (3L, "k", 50L))
      .toDF("pid", "k", "t")
    val quote = Seq(("k", 100L, 10L, 1.0), ("k", 200L, 11L, 2.0))
      .toDF("k", "t", "qid", "px")
    val out = Analytics.asOfJoin(
        probe.withColumnRenamed("pid", "tb"), // tiebreak col shared name
        quote.withColumnRenamed("qid", "tb"),
        "k", "t", "tb", Seq("px"))
      .orderBy("t").select("px").collect().map(r => Option(r.get(0)))
    // t=50 -> no quote yet (null); t=100 -> quote@100; t=250 -> quote@200
    assert(out.toSeq === Seq(None, Some(1.0), Some(2.0)))
  }

  test("asOfJoinDirectional: forward, nearest tie-to-backward, tolerance null-extends") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val probe = Seq(
      (1L, "k", ts("2024-01-01 01:00:00")),
      (2L, "k", ts("2024-01-01 03:00:00")),
      (3L, "k", ts("2024-01-01 08:00:00")))
      .toDF("pid", "k", "t")
    val quote = Seq(
      ("k", ts("2024-01-01 00:30:00"), 10L, 1.0),  // 30 min before p1
      ("k", ts("2024-01-01 01:30:00"), 11L, 2.0),  // 30 min after p1, 90 before p2
      ("k", ts("2024-01-01 04:00:00"), 12L, 3.0))  // 60 min after p2
      .toDF("k", "t", "qid", "px")
    def run(dir: String, tol: Option[Long]) =
      Analytics.asOfJoinDirectional(probe, quote, "k", "t", "qid", "px",
          dir, tol)
        .orderBy("pid").select("px").collect().map(r => Option(r.get(0))).toSeq
    // forward: p1→q@01:30, p2→q@04:00, p3→none
    assert(run("forward", None) === Seq(Some(2.0), Some(3.0), None))
    // backward matches the original asOfJoin semantics
    assert(run("backward", None) === Seq(Some(1.0), Some(2.0), Some(3.0)))
    // nearest: p1 ties 30min/30min → backward (1.0); p2 forward 60 < 90
    // backward (3.0); p3 backward-only (3.0)
    assert(run("nearest", None) === Seq(Some(1.0), Some(3.0), Some(3.0)))
    // tolerance 1 h: p3's only candidate is 4 h away → null-extended
    assert(run("nearest", Some(3600L)) === Seq(Some(1.0), Some(3.0), None))
    // equal-ts quote is visible in BOTH directions
    val qEq = Seq(("k", ts("2024-01-01 01:00:00"), 13L, 9.0)).toDF("k", "t", "qid", "px")
    assert(Analytics.asOfJoinDirectional(
        probe.filter($"pid" === 1L), qEq, "k", "t", "qid", "px", "forward", None)
      .select("px").as[Double].head() === 9.0)
  }

  // --- sessionize -------------------------------------------------------

  test("sessionize splits on gaps greater than the threshold") {
    val df = Seq(
      (1L, "u", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, "u", java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
      (3L, "u", java.sql.Timestamp.valueOf("2024-01-01 02:00:00")))
      .toDF("id", "u", "ts")
    val out = Analytics.sessionize(df, Seq($"u"), $"ts", $"id", gapSeconds = 1800)
      .orderBy("ts").select("session_id").as[Long].collect()
    assert(out.toSeq === Seq(1L, 1L, 2L))
  }

  test("dedupProvenance keeps min key and the sorted distinct source set per digest") {
    val df = Seq(
      (5L, "same", "crawl_b"), (2L, "same", "crawl_a"),
      (9L, "same", "crawl_a"),                       // dup source collapses
      (7L, "other", "dump")
    ).toDF("id", "text", "src")
    val out = Dedup.dedupProvenance(df, $"id", md5($"text"), $"src")
      .select("n_copies", "keeper", "n_sources", "sources")
      .as[(Long, Long, Long, String)].collect().sortBy(_._2)
    assert(out.toSeq === Seq(
      (3L, 2L, 2L, "crawl_a,crawl_b"), (1L, 7L, 1L, "dump")))
  }

  test("skewProfile reports exact size distribution and max/mean ratio") {
    // keys: a×6, b×2, c×1, d×1 → n_keys=4, n_rows=10, max=6, mean=2.5
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d")).toDF("k")
    val out = Analytics.skewProfile(df, Seq($"k"))
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect()
    val (nKeys, nRows, maxN, meanN, p50, p99, ratio) = out.head
    assert((nKeys, nRows, maxN, meanN) === ((4L, 10L, 6L, 2.5)))
    // exact interpolated percentiles over sizes [1,1,2,6]
    assert(p50 === 1.5 && p99 === 5.88)
    assert(ratio === 2.4)
  }
}
