package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.schemas.Warehouse
import graft.schemas.Warehouse.StockBar

/** Typed warehouse boundary (SURVEY.md §7.1; reference models package):
  * conform casts
  * to the declared sink types, missing-column behavior, uniqueness
  * invariants, and the Dataset[StockBar] encoder round-trip.
  */
class WarehouseSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("applyChangeLog: latest change wins, D deletes, I inserts, seq breaks ts ties") {
    import graft.operators.Dedup
    val snap = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("k", "v")
    val changes = Seq(
      // k=1: U then later D → deleted
      (1L, ts("2024-02-01 00:00:00"), 1L, "U", 11.0),
      (1L, ts("2024-03-01 00:00:00"), 1L, "D", 0.0),
      // k=2: D then later U → resurrected with 22.0
      (2L, ts("2024-02-01 00:00:00"), 1L, "D", 0.0),
      (2L, ts("2024-03-01 00:00:00"), 1L, "U", 22.0),
      // k=3: same ts, seq 2 wins → 33.0
      (3L, ts("2024-02-01 00:00:00"), 1L, "U", 31.0),
      (3L, ts("2024-02-01 00:00:00"), 2L, "U", 33.0),
      // k=5: brand-new key inserted
      (5L, ts("2024-01-15 00:00:00"), 1L, "I", 50.0)
    ).toDF("k", "ts", "seq", "op", "v")
    val out = Dedup.applyChangeLog(snap, changes, "k", "ts", "seq", "op", Seq("v"))
      .orderBy("k").as[(Long, Double)].collect()
    // k=4 untouched keeps its snapshot value
    assert(out.toSeq === Seq(2L -> 22.0, 3L -> 33.0, 4L -> 40.0, 5L -> 50.0))
  }

  test("incrementalRollup equals a full recompute, incl. group moves and emptied groups") {
    import graft.operators.Dedup
    // groups: g = v's tens digit stand-in — carried as its own column so
    // an update can MOVE a key between groups
    val snap = Seq((1L, 1L, 10.0), (2L, 1L, 11.0), (3L, 2L, 20.0),
      (4L, 3L, 30.0)).toDF("k", "g", "v")
    val changes = Seq(
      // k=1: value update in place (group 1 sum changes)
      (1L, ts("2024-02-01 00:00:00"), 1L, "U", 1L, 15.0),
      // k=3: GROUP MOVE 2 → 1 (group 2 must disappear: count reaches 0)
      (3L, ts("2024-02-01 00:00:00"), 1L, "U", 1L, 21.0),
      // k=4: deleted (group 3 disappears)
      (4L, ts("2024-02-01 00:00:00"), 1L, "D", 3L, 30.0),
      // k=9: insert into a brand-new group 9
      (9L, ts("2024-02-01 00:00:00"), 1L, "I", 9L, 90.0)
    ).toDF("k", "ts", "seq", "op", "g", "v")
    val got = Dedup.incrementalRollup(snap, changes, "k", "ts", "seq", "op",
        Seq("g", "v"), group = col("g"), value = col("v"))
      .orderBy("grp").as[(Long, Long, Double)].collect()
    // recompute reference: apply the log fully, then aggregate
    val recomputed = Dedup.applyChangeLog(snap, changes, "k", "ts", "seq",
        "op", Seq("g", "v"))
      .groupBy(col("g").as("grp"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("v").cast("decimal(30,10)")).cast("double").as("vsum"))
      .orderBy("grp").as[(Long, Long, Double)].collect()
    assert(got.toSeq === recomputed.toSeq)
    // and the hand-checked shape: groups 2 and 3 gone, 1 grew, 9 new
    assert(got.toSeq === Seq((1L, 3L, 47.0), (9L, 1L, 90.0)))
  }

  test("incrementalRollup: NULL grouping key lands on ONE row (null-safe merge joins)") {
    import graft.operators.Dedup
    // round-9 ADVICE: the base row and delta row of a NULL group never
    // matched under plain full_outer equality, so the incremental path
    // emitted duplicate null-grp rows and broke incremental==recompute
    // exactly on nullable group columns
    val snap = Seq((1L, Option.empty[Long], 10.0), (2L, None, 11.0),
      (3L, Some(2L), 20.0)).toDF("k", "g", "v")
    val changes = Seq(
      // k=1: value update INSIDE the null group
      (1L, ts("2024-02-01 00:00:00"), 1L, "U", Option.empty[Long], 15.0),
      // k=5: insert into the null group
      (5L, ts("2024-02-01 00:00:00"), 1L, "I", Option.empty[Long], 50.0),
      // k=3: move OUT of group 2 INTO the null group (group 2 empties)
      (3L, ts("2024-02-01 00:00:00"), 1L, "U", Option.empty[Long], 21.0)
    ).toDF("k", "ts", "seq", "op", "g", "v")
    val got = Dedup.incrementalRollup(snap, changes, "k", "ts", "seq", "op",
        Seq("g", "v"), group = col("g"), value = col("v"))
      .orderBy("grp").as[(Option[Long], Long, Double)].collect()
    // ONE null-group row: {15, 11, 50, 21} → cnt 4, sum 97; group 2 gone
    assert(got.toSeq === Seq((None, 4L, 97.0)))
  }

  test("driftProfile: per-column null fractions, means, and shift on a hand fixture") {
    import graft.operators.Analytics
    val a = Seq((Some(1.0), Some(10.0)), (Some(3.0), None),
      (Some(5.0), Some(30.0)), (None, Some(20.0))).toDF("x", "y")
    val b = Seq((Some(2.0), Some(10.0)), (Some(4.0), Some(10.0)),
      (Some(6.0), Some(40.0)), (Some(8.0), None)).toDF("x", "y")
    val got = Analytics.driftProfile(a, b, Seq("x", "y"))
      .orderBy("col_name")
      .as[(String, Long, Long, Double, Double, Long, Long, Double, Double, Double)]
      .collect()
    val x = got(0); val y = got(1)
    assert(x._1 === "x" && y._1 === "y")
    // x: a = {1,3,5,null} → n 4, distinct 3, null_frac .25, mean 3;
    //    b = {2,4,6,8}    → n 4, distinct 4, null_frac 0,   mean 5
    assert(x === (("x", 4L, 3L, 0.25, 3.0, 4L, 4L, 0.0, 5.0, 2.0)))
    // y: a mean (10+30+20)/3 = 20; b = {10,10,40,null} → distinct 2, mean 20
    assert(y === (("y", 4L, 3L, 0.25, 20.0, 4L, 2L, 0.25, 20.0, 0.0)))
  }

  test("conform casts prices to DECIMAL(12,4) at the sink boundary") {
    val raw = Seq(
      ("b1", "c1", "2024-01-02 09:30:00", 101.25, 102.0, 100.5, 101.9, 1000L, 42L, 101.7))
      .toDF("id", "company_id", "timestamp", "open_price", "high_price",
        "low_price", "close_price", "volume", "trade_count", "vwap")
      .withColumn("timestamp", to_timestamp($"timestamp"))
    val out = Warehouse.conform(raw, Warehouse.stockBarSchema)
    // Names + types must match exactly; nullability is advisory at a
    // parquet boundary (cast projections are nullable, and parquet
    // round-trips every field nullable anyway).
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      Warehouse.stockBarSchema.fields.map(f => (f.name, f.dataType)).toSeq)
    val r = out.collect()(0)
    assert(r.getAs[java.math.BigDecimal]("open_price") ===
      new java.math.BigDecimal("101.2500"))
    assert(r.getAs[Int]("volume") === 1000)
  }

  test("conform nulls missing nullable columns, fails on missing required") {
    val partial = Seq(("a1", "T", "tc", "cc", "2024-01-01 00:00:00", "src",
        "https://u", "2024-01-01 00:00:00", "2024-01-01 00:00:00"))
      .toDF("id", "title", "title_cleaned", "content_cleaned",
        "published_at", "source_name", "url", "created_at", "updated_at")
      .withColumn("published_at", to_timestamp($"published_at"))
      .withColumn("created_at", to_timestamp($"created_at"))
      .withColumn("updated_at", to_timestamp($"updated_at"))
    val out = Warehouse.conform(partial, Warehouse.articleSchema)
    val r = out.collect()(0)
    assert(r.getAs[String]("author") === null) // nullable → NULL
    assert(r.getAs[String]("content") === null)
    val ex = intercept[IllegalArgumentException] {
      Warehouse.conform(partial.drop("url"), Warehouse.articleSchema)
    }
    assert(ex.getMessage.contains("url"))
  }

  test("uniquenessViolations finds uq_symbol_timestamp breaches only") {
    val df = Seq(
      ("c1", "2024-01-02 09:30:00"),
      ("c1", "2024-01-02 09:30:00"), // duplicate key
      ("c1", "2024-01-02 09:31:00"),
      ("c2", "2024-01-02 09:30:00"))
      .toDF("company_id", "timestamp")
    val v = Warehouse.uniquenessViolations(df, Seq("company_id", "timestamp")).collect()
    assert(v.length === 1)
    assert(v(0).getAs[Long]("multiplicity") === 2L)
    val clean = operators.Dedup.keepFirst(
      df.withColumn("ord", monotonically_increasing_id()),
      Seq("company_id", "timestamp"), Seq(col("ord")))
    assert(Warehouse.uniquenessViolations(
      clean, Seq("company_id", "timestamp")).isEmpty)
  }

  test("Dataset[StockBar] encoder round-trips through the typed view") {
    val bars = Seq(
      StockBar("b1", "c1", ts("2024-01-02 09:30:00"),
        BigDecimal("101.2500"), BigDecimal("102.0000"), BigDecimal("100.5000"),
        BigDecimal("101.9000"), 1000, 42, BigDecimal("101.7000")),
      StockBar("b2", "c1", ts("2024-01-02 09:31:00"),
        BigDecimal("101.9000"), BigDecimal("103.0000"), BigDecimal("101.0000"),
        BigDecimal("102.5000"), 500, 17, BigDecimal("102.2000")))
    val ds = spark.createDataset(bars)(Warehouse.stockBarEncoder)
    // typed field access on the deserialized objects
    val spread = ds.collect().map(b => (b.high_price - b.low_price).doubleValue)
    assert(spread.toSeq === Seq(1.5, 2.0))
    // DataFrame → conform → typed view → back, schema authoritative
    val typed = Warehouse.asStockBars(ds.toDF())
    assert(typed.toDF().schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      Warehouse.stockBarSchema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(typed.toDF().count() === 2)
  }

  test("declared unique keys cover all four tables") {
    assert(Warehouse.uniqueKeys("stock_bars").contains(Seq("company_id", "timestamp")))
    assert(Warehouse.uniqueKeys("articles").contains(Seq("url")))
    assert(Warehouse.uniqueKeys("reddit_posts").contains(Seq("reddit_id")))
    assert(Warehouse.uniqueKeys("companies").contains(Seq("ticker")))
  }

  test("validationReport counts per-rule violations; NULL predicate = violation") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 10.0), (2L, -1.0), (3L, null), (null, 5.0)
    ).toDF("id", "v")
    val rep = Warehouse.validationReport(df, Seq(
        "v_nonneg" -> (col("v") >= 0),
        "id_set" -> col("id").isNotNull))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // v >= 0 is NULL for row 3 → counts as a violation (Pydantic would
    // reject a missing field, so must the report)
    assert(rep === Set(("v_nonneg", 2L, 4L), ("id_set", 1L, 4L)))
  }

  test("validationReport rejects duplicate rule names up front") {
    import spark.implicits._
    val df = Seq((1L, 1.0)).toDF("id", "v")
    val ex = intercept[IllegalArgumentException] {
      Warehouse.validationReport(df, Seq(
        "nonneg" -> (col("v") >= 0),
        "nonneg" -> col("id").isNotNull))
    }
    assert(ex.getMessage.contains("duplicate rule name"))
    assert(ex.getMessage.contains("nonneg"))
  }
}
