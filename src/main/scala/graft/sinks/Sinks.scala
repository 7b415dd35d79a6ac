package graft.sinks

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Sinks (SURVEY.md §2.9).
  *
  * K1 — Hive-style date-partitioned parquet lake write
  * (load_to_s3.py:10-27): `partitionBy(ingestion_date)` replaces the
  * hand-built `{flow}_data/ingestion_date={date}/...` S3 key layout, and
  * downstream readers get partition pruning for free.
  *
  * K2 — idempotent warehouse append (loading.py:131-193): anti-join
  * insert-only-if-new. See [[graft.operators.Dedup.idempotentAppend]]
  * for the plan-level form; [[appendNew]] here is the write-side wrapper.
  *
  * Scale notes: the partition column should be low-cardinality
  * (date, not timestamp) or small files explode; writers repartition on
  * the partition column first so each task writes one file per
  * partition value rather than `tasks × partitions` fragments.
  */
object Sinks {

  /** K1: lake write partitioned by ingestion date. `ingestionDate` is a
    * parameter, not `current_date()`, so replays are deterministic
    * (SURVEY.md §7.5 trap 2).
    */
  def writePartitioned(df: DataFrame, path: String, ingestionDate: String): Unit =
    df.withColumn("ingestion_date", lit(ingestionDate))
      .repartition(col("ingestion_date"))
      .write.mode("append")
      .partitionBy("ingestion_date")
      .parquet(path)

  /** Bucketed table write: co-locates rows by join key so repeated joins
    * and aggregations on `bucketCol` skip the shuffle entirely (the
    * sorted buckets satisfy the join's distribution requirement). The
    * 100 TB pattern for fact↔fact joins that recur every batch.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Lake maintenance: rewrite an unpartitioned parquet directory into
    * ~`targetFileBytes` files and swap it in (write to a sibling dir,
    * delete, rename). Streaming appends and idempotent micro-batch
    * writes accumulate small files (every [[appendNew]] call adds at
    * least one); at 100 TB unmanaged small files dominate task
    * scheduling and NameNode/listing cost, so compaction is a standing
    * maintenance job. `coalesce` (narrow, no shuffle) — file-count
    * reduction doesn't need row redistribution. For a partitioned lake,
    * run per partition directory. Returns the new file count.
    *
    * SINGLE-WRITER ONLY: the delete→rename swap is not atomic — a
    * concurrent [[appendNew]] could write into the window (lost rows) or
    * read PATH_NOT_FOUND mid-swap (full re-append). Schedule compaction
    * when no writer runs; at deployment scale this job is a table
    * format's transactional OPTIMIZE, which removes the constraint.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(hPath)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    spark.read.parquet(path).coalesce(nFiles).write.parquet(tmp.toString)
    // the swap's two steps return success BOOLEANS, not exceptions — an
    // unchecked false here either leaves tmp nested INSIDE the data dir
    // (rename onto an existing dir → duplicate rows on recursive reads)
    // or loses the table entirely (delete succeeded, rename failed)
    if (!fs.delete(hPath, true))
      throw new java.io.IOException(s"compact: failed to delete $hPath before swap")
    if (!fs.rename(tmp, hPath))
      throw new java.io.IOException(
        s"compact: failed to rename $tmp to $hPath — compacted data left at $tmp")
    nFiles
  }

  /** K2: append only rows whose key is absent from the existing table at
    * `path`; returns the number of rows appended. Transactionality note:
    * parquet append is not atomic — at deployment scale this is the
    * foreachBatch body over a table format with MERGE semantics.
    *
    * One pass: the anti-join result is written directly while an
    * `Observation` counts the rows it writes — no persisted anti-join,
    * no separate count job. The table's key columns are selected by
    * name, so a key column the table lacks fails analysis instead of
    * matching nothing and re-appending every row. A call that finds
    * nothing new still commits one zero-row file (Spark's writer leaves
    * one file for an empty write); the table's rows are unchanged.
    */
  def appendNew(incoming: DataFrame, path: String, keys: Seq[String]): Long = {
    val spark = incoming.sparkSession
    val existing =
      try spark.read.parquet(path)
      catch {
        // only "table doesn't exist yet" may become an empty frame; any
        // other read failure (corrupt footer, permissions, transient IO)
        // must propagate — substituting empty would re-append every
        // incoming row and silently break the idempotency guarantee
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], incoming.schema)
      }
    val appended = Observation()
    Dedup.newRowsLarge(incoming, existing, keys)
      .observe(appended, count(lit(1)).as("n"))
      .write.mode("append").parquet(path)
    appended.get("n").asInstanceOf[Long]
  }
}
