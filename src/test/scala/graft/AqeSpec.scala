package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Adaptive Query Execution behaviors the 100 TB design leans on: the
  * runtime skew-join split is the automatic counterpart of the manual
  * salting in [[graft.operators.Skew]] — AQE re-plans a sort-merge join
  * when one shuffle partition dwarfs the median, splitting the hot
  * partition across tasks. (Manual salting remains for the cases AQE
  * can't touch: skewed aggregations and bucketed joins.)
  *
  * All AQE thresholds used here are runtime-settable, so the shared test
  * session is reconfigured and restored rather than rebuilt.
  */
class AqeSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  test("runtime bloom filter is injected for a selective shuffle join") {
    // the semi-join-reduction pattern at 100 TB: a selective filter on
    // the dim side materializes a bloom filter that prunes the fact
    // scan BEFORE the join shuffle — Catalyst injects it when the
    // creation side is small and the application side scan is large
    // (thresholds shrunk here so toy files qualify)
    val keep = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.range(200000).select(col("id"), (col("id") % 10000).as("k"))
        .write.mode("overwrite").parquet(s"$dir/fact")
      spark.range(10000).select(col("id").as("k"), (col("id") * 2).as("attr"))
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("k") % 100 === 0)
      val joined = fact.join(dim, "k")
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected an injected bloom-filter probe in:\n$optimized")
      // 100 surviving dim keys × 20 fact rows per key
      assert(joined.count() === 2000)
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning prunes fact partitions via the dim filter") {
    // the star-schema 100 TB staple: a filter on the DIM side prunes the
    // partitioned FACT scan at runtime — the fact partitions never read.
    // Catalyst inserts a dynamicpruning#N subquery on the fact's
    // partition column when the join key is the partition key.
    val keep = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    try {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      spark.range(100000)
        .select(col("id"), (col("id") % 20).as("day"))
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(s"$dir/fact")
      spark.range(20).select(col("id").as("day"), (col("id") * 7).as("attr"))
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("attr") < 21) // days 0,1,2
      val joined = fact.join(dim, "day")
      assert(joined.queryExecution.executedPlan.toString.contains("dynamicpruning"),
        s"expected a dynamicpruning subquery in:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() === 15000) // 3 of 20 days × 5000 rows/day
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bloomSemiJoin equals the plain semi join, sketch rides as a scalar subquery") {
    val fact = spark.range(5000).select(col("id"), (col("id") % 500).as("k"))
    val dim = spark.range(500).select(col("id").as("dk"))
      .filter(col("dk") % 7 === 0)
    val got = graft.operators.Skew.bloomSemiJoin(
      fact, col("k"), dim, col("dk"),
      expectedItems = 1000L, numBits = 1L << 14)
    val expected = fact.join(dim, col("k") === col("dk"), "left_semi")
    assert(got.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(got).count() === 0)
    val plan = got.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain") && plan.contains("scalar-subquery"),
      s"expected a scalar-subquery bloom probe in:\n$plan")

    // a deliberately tiny sketch (heavy false positives) must still be
    // EXACT — FPs only cost verify-join work, never wrong rows
    val tiny = graft.operators.Skew.bloomSemiJoin(
      fact, col("k"), dim, col("dk"), expectedItems = 10L, numBits = 64L)
    assert(tiny.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(tiny).count() === 0)
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    val keep = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // shrink the thresholds so toy data exhibits "100 TB" skew: a
      // partition is skewed if > factor × median AND > threshold bytes
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // 90% of fact rows share one key; dim is uniform
      val fact = (1 to 120000)
        .map(i => (if (i % 10 != 0) 7L else i.toLong % 100, s"payload_$i"))
        .toDF("k", "v")
      val dim = (0L to 100L).map(k => (k, s"dim_$k")).toDF("k", "name")
      val joined = fact.join(dim, "k")
      // execute THIS df's plan (count() would build a separate query
      // execution and leave joined's adaptive plan unfinalized)
      assert(joined.collect().length === 120000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected a skew-split join in the final adaptive plan:\n$plan")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed co-located join runs with zero exchanges") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_bucket_spec").toString
    val keep = Seq("spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // force the join to actually use the bucket layout (a broadcast
      // would dodge the exchange question entirely on toy data)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.sql("DROP TABLE IF EXISTS spec_bkt_a")
      spark.sql("DROP TABLE IF EXISTS spec_bkt_b")
      (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
        .write.format("parquet").option("path", s"$base/a")
        .bucketBy(4, "k").sortBy("k").saveAsTable("spec_bkt_a")
      (1 to 1000).filter(_ % 3 == 0).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
        .write.format("parquet").option("path", s"$base/b")
        .bucketBy(4, "k").sortBy("k").saveAsTable("spec_bkt_b")
      val j = spark.table("spec_bkt_a").join(spark.table("spec_bkt_b"), "k")
      assert(j.count() === 333)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      // both scans report the bucket layout
      assert(plan.contains("Bucketed: true"), plan)
    } finally {
      keep.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.sql("DROP TABLE IF EXISTS spec_bkt_a")
      spark.sql("DROP TABLE IF EXISTS spec_bkt_b")
    }
  }
}
