package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed merge-on-read versioning for the streaming-IVM maintained
  * table (round-10 verdict #3). The round-9 maintainers rewrote the
  * FULL table per micro-batch (`tableRoot/v$id` wholesale) — at 100 TB
  * that single write is the scale-killer the rollup delta algebra
  * already avoids. Here the table is hash-partitioned into `nBuckets`
  * key buckets and each batch commits ONLY the buckets containing
  * affected keys:
  *
  *  - a commit writes `root/v$id/__bucket=b/` for exactly the affected
  *    buckets (`partitionBy` on the derived bucket column — one write
  *    job regardless of how many buckets a batch touches) plus a
  *    `_buckets` manifest naming them, so a bucket whose entire
  *    content was DELETED is still claimed by the commit (no
  *    partition dir ⇒ empty, not "fall through to a stale version");
  *  - the CURRENT table is assembled per bucket from the NEWEST
  *    version claiming that bucket, falling back to the immutable
  *    base snapshot for buckets never claimed — merge-on-read, the
  *    same contract a lake table format's partition-level upsert
  *    gives;
  *  - untouched buckets' files are never opened, let alone rewritten —
  *    byte-identical across a batch (spec-asserted by checksum in
  *    StreamingSinksSpec).
  *
  * At scale `nBuckets` grows with the table (buckets ≈ files you are
  * willing to rewrite per commit); the fixture default 8 keeps the
  * local version tree readable. The bucket function is Spark's
  * deterministic murmur3 `hash`, so assignment is stable across
  * sessions and both maintainers. The manifest is written AFTER the
  * parquet commit — a crash in between leaves an unclaimed (invisible)
  * version, never a half-visible one.
  */
object BucketedTable {

  val defaultBuckets = 8

  /** Stable key→bucket assignment (murmur3, non-negative). */
  def bucketOf(key: String, nBuckets: Int = defaultBuckets): org.apache.spark.sql.Column =
    pmod(hash(col(key)), lit(nBuckets))

  /** Version directories under `root`, ascending by id. */
  private[streaming] def versions(root: String): Seq[(Long, java.io.File)] =
    (new java.io.File(root).listFiles() match {
      case null => Array.empty[java.io.File]
      case fs => fs.filter(f => f.isDirectory && f.getName.startsWith("v"))
    }).map(f => (f.getName.drop(1).toLong, f)).sortBy(_._1).toSeq

  private def manifestAt(vdir: java.io.File): Option[Seq[Int]] = {
    val m = new java.io.File(vdir, "_buckets")
    if (!m.isFile) None
    else Some(new String(
        java.nio.file.Files.readAllBytes(m.toPath), "UTF-8")
      .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      .map(_.toInt).toSeq)
  }

  /** For each bucket, the newest version CLAIMING it (via manifest);
    * the value is the bucket's partition path, or None when the claim
    * is an empty bucket (all rows deleted). Versions without a
    * manifest are unclaimed — invisible, per the crash contract. */
  private def latestBucketState(root: String): Map[Int, Option[String]] = {
    val claimed = scala.collection.mutable.Map.empty[Int, Option[String]]
    versions(root).reverse.foreach { case (_, vdir) =>
      manifestAt(vdir).foreach(_.foreach { b =>
        if (!claimed.contains(b)) {
          val part = new java.io.File(vdir, s"__bucket=$b")
          claimed(b) = if (part.isDirectory) Some(part.getPath) else None
        }
      })
    }
    claimed.toMap
  }

  /** Assemble the current table: newest written state per bucket ∪ the
    * base snapshot for buckets never claimed. Reading the `__bucket=b`
    * leaf directories directly drops the partition column, so the
    * result has exactly the snapshot's columns. */
  def current(spark: SparkSession, root: String, snapshot: DataFrame,
      key: String, nBuckets: Int = defaultBuckets): DataFrame =
    assemble(spark, latestBucketState(root), (0 until nBuckets),
      snapshot, key, nBuckets)

  /** TIME-TRAVEL read: the table as of version `maxVersion` — per
    * bucket, the newest claim with id ≤ `maxVersion`, base snapshot for
    * buckets unclaimed by then. The lake-table "read a past training
    * snapshot" primitive, free on this layout because versions are
    * immutable once manifested.
    *
    * Horizon contract (the vacuum trade every lake format makes):
    * [[compact]] folds history — claims below the fold are deleted.
    * An asOf BELOW the oldest retained manifested version now FAILS
    * LOUDLY (round-11 ADVICE) instead of silently degrading to the
    * base snapshot: the pre-fold claims are gone, so the point-in-time
    * state is unreconstructable — wrong data with no error was the
    * hazard. Readers that need deep history defer compaction
    * (compactThreshold = 0 through the maintainer entry points). */
  def currentAsOf(spark: SparkSession, root: String, snapshot: DataFrame,
      key: String, maxVersion: Long,
      nBuckets: Int = defaultBuckets): DataFrame = {
    // history is LOST exactly below the newest compaction fold (marked
    // `_fold` by [[compact]] — a plain first commit at any id loses
    // nothing, so "asOf before the first version = base snapshot"
    // stays a valid read on never-compacted roots)
    val newestFold = versions(root).reverse.collectFirst {
      case (id, d) if new java.io.File(d, "_fold").isFile &&
        new java.io.File(d, "_buckets").isFile => id
    }
    newestFold.foreach { fold =>
      if (maxVersion < fold)
        throw new IllegalStateException(
          s"currentAsOf($maxVersion): a compaction fold at v$fold retired " +
            s"all history below it at $root — the point-in-time state is " +
            "unreconstructable. Defer compaction (compactThreshold = 0) " +
            "on roots that serve deep time travel")
    }
    assemble(spark, latestBucketStateAsOf(root, maxVersion),
      (0 until nBuckets), snapshot, key, nBuckets)
  }

  private def latestBucketStateAsOf(root: String,
      maxVersion: Long): Map[Int, Option[String]] = {
    val claimed = scala.collection.mutable.Map.empty[Int, Option[String]]
    versions(root).reverse.foreach { case (id, vdir) =>
      if (id <= maxVersion)
        manifestAt(vdir).foreach(_.foreach { b =>
          if (!claimed.contains(b)) {
            val part = new java.io.File(vdir, s"__bucket=$b")
            claimed(b) = if (part.isDirectory) Some(part.getPath) else None
          }
        })
    }
    claimed.toMap
  }

  /** Assemble ONLY the given `buckets` of the current table — the
    * file-level pruning the maintainers' per-batch reads need (round-10
    * verdict #6): a batch's delta and rewrite work touches exactly the
    * affected keys' buckets, and because the version layout is
    * per-bucket, those buckets' FILES are the only ones that need
    * opening. A post-scan `filter(bucketOf(...))` could never do this —
    * the bucket is a computed column, invisible to parquet pruning. */
  def currentBuckets(spark: SparkSession, root: String, snapshot: DataFrame,
      key: String, buckets: Seq[Int],
      nBuckets: Int = defaultBuckets): DataFrame =
    assemble(spark,
      latestBucketState(root).filter { case (b, _) => buckets.contains(b) },
      buckets, snapshot, key, nBuckets)

  private def assemble(spark: SparkSession, claimed: Map[Int, Option[String]],
      wanted: Seq[Int], snapshot: DataFrame, key: String,
      nBuckets: Int): DataFrame = {
    val unwritten = wanted.filterNot(claimed.contains)
    val paths = claimed.values.flatten.toSeq
    val fromSnap =
      if (unwritten.size == nBuckets) Some(snapshot)
      else if (unwritten.isEmpty) None
      else Some(snapshot.filter(
        bucketOf(key, nBuckets).isin(unwritten: _*)))
    val fromFiles =
      if (paths.isEmpty) None
      else Some(spark.read.parquet(paths: _*)
        .select(snapshot.columns.map(col): _*))
    (fromSnap, fromFiles) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => snapshot.limit(0) // every wanted bucket claimed-empty
    }
  }

  /** Rows of `table` falling in the buckets of any `affectedKeys` key —
    * the only rows a commit must rewrite. The bucket-id frame is at
    * most `nBuckets` rows, so the semi join broadcasts. */
  def affectedBucketRows(table: DataFrame, affectedKeys: DataFrame,
      key: String, nBuckets: Int = defaultBuckets): DataFrame = {
    val affB = affectedKeys
      .select(bucketOf(key, nBuckets).as("__bucket")).distinct()
    table.withColumn("__bucket", bucketOf(key, nBuckets))
      .join(broadcast(affB), Seq("__bucket"), "left_semi")
      .drop("__bucket")
  }

  /** The distinct bucket ids of `affectedKeys` — ≤ `nBuckets` ints of
    * orchestration metadata, never row data. Collected once per batch
    * and shared by [[currentBuckets]] (pruned read) and [[commit]]
    * (manifest claims). */
  def bucketIds(affectedKeys: DataFrame, key: String,
      nBuckets: Int = defaultBuckets): Seq[Int] =
    affectedKeys
      .select(bucketOf(key, nBuckets).as("__bucket")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq

  /** Commit version `id`: write `content` (the affected buckets' FULL
    * new content) partitioned by bucket, then claim exactly the
    * buckets of `affectedKeys` in the manifest — including buckets
    * `content` has no rows for (deleted-empty). Buckets not claimed
    * are untouched on disk. */
  def commit(root: String, id: Long, content: DataFrame,
      affectedKeys: DataFrame, key: String,
      nBuckets: Int = defaultBuckets): Unit =
    commitIds(root, id, content,
      bucketIds(affectedKeys, key, nBuckets), key, nBuckets)

  /** [[commit]] with the affected-bucket ids already collected (the
    * maintainers compute them once per batch for the pruned read). */
  /** Sidecar names a fold carries forward (newest manifested
    * occurrence copied into the fold before its manifest): `_hwm` (the
    * ooo maintainer's watermark) and `_batch` (the rollup retry
    * marker). Without the carry, a fold's wipe would destroy them and
    * a restart would fall back to the unsafe legacy re-seeds. */
  private val carriedSidecars = Seq("_hwm", "_batch")

  def commitIds(root: String, id: Long, content: DataFrame,
      claimIds: Seq[Int], key: String,
      nBuckets: Int = defaultBuckets,
      compactThreshold: Int = defaultCompactThreshold,
      sidecars: Seq[(String, Array[Byte])] = Nil): Unit =
    // the whole id-check → write → manifest → auto-compaction sequence
    // runs under the SAME cross-process commit lock the IndexStore
    // artifacts use (round-11 verdict #5): the documented single-writer
    // assumption is now enforced — a resumed stream in a second JVM
    // racing a compaction serializes instead of interleaving
    // wipe/commit. Re-entrant, so [[commitNext]]'s allocate-and-commit
    // and the compaction trigger nest without deadlock.
    graft.operators.IndexStore.withCommitLock(root) {
      // ENFORCED (round-11 ADVICE), not just documented in
      // nextVersionId's docstring: a commit at a recycled smaller id
      // would be silently shadowed by any compaction fold (written at
      // last+1) — wrong data, no error. Fresh-root literal ids
      // (0, 1, 2 in ascending order) still satisfy this.
      require(id >= nextVersionId(root),
        s"commitIds: version id $id is below nextVersionId(${nextVersionId(root)}) " +
          "for this root — ids must be allocated monotone (a compaction fold " +
          "at last+1 would silently shadow a recycled smaller id)")
      content.withColumn("__bucket", bucketOf(key, nBuckets))
        .write.mode("overwrite").partitionBy("__bucket")
        .parquet(s"$root/v$id")
      // SIDECARS land BEFORE the manifest (round-12 review): the
      // manifest is the visibility gate, so a sidecar is present iff
      // the version is visible — written after, a crash in between
      // would leave a visible commit whose retry marker / watermark
      // never landed (exactly the double-apply window the `_batch`
      // marker exists to close). And before any auto-compaction: a
      // post-commit sidecar write would target a directory the fold
      // may have just wiped.
      sidecars.foreach { case (name, bytes) =>
        require(name.startsWith("_") && name != "_buckets" && name != "_fold",
          s"commitIds: illegal sidecar name $name")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$root/v$id", name), bytes)
        ()
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/v$id", "_buckets"),
        claimIds.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
      if (compactThreshold > 0 && versions(root).size > compactThreshold)
        compact(content.sparkSession, root, key, nBuckets)
      ()
    }

  /** Allocate the next version id AND commit under ONE lock hold —
    * the form the streaming maintainers use (round-11 verdict #5: the
    * separate nextVersionId-then-commitIds steps left a cross-process
    * window where two writers could allocate the same id). Returns the
    * committed id. */
  def commitNext(root: String, content: DataFrame,
      claimIds: Seq[Int], key: String,
      nBuckets: Int = defaultBuckets,
      compactThreshold: Int = defaultCompactThreshold,
      sidecars: Seq[(String, Array[Byte])] = Nil): Long =
    graft.operators.IndexStore.withCommitLock(root) {
      val id = nextVersionId(root)
      commitIds(root, id, content, claimIds, key, nBuckets, compactThreshold,
        sidecars)
      id
    }

  /** Version-count threshold at which [[commitIds]] folds the tree
    * (round-10 verdict #5): without compaction, [[latestBucketState]]
    * re-lists every `v*` directory per batch — O(batches) driver
    * listing per commit, O(batches²) over a long stream — and the tree
    * grows without bound. 32 keeps the listing trivially cheap while
    * amortizing each fold over ≥32 commits. */
  val defaultCompactThreshold = 32

  /** Fold the whole version tree into ONE new base version and drop the
    * shadowed older versions. The new version's manifest claims the
    * union of every claim below it, so it shadows all of them — written
    * parquet-then-manifest like any commit (a crash in between leaves
    * an invisible version and the old tree intact; a crash mid-delete
    * leaves shadowed dirs a later compaction removes). Reads are
    * identical across a compaction (spec-asserted): per-bucket content
    * is the newest claim either way, and UNCLAIMED buckets stay
    * unclaimed — still falling through to the base snapshot.
    *
    * Single-writer is ENFORCED, not assumed (round-11 verdict #5):
    * the fold runs under the same [[graft.operators.IndexStore]]
    * commit lock as every commit on this root, so a second process's
    * commit can never interleave with the wipe. */
  def compact(spark: SparkSession, root: String, key: String,
      nBuckets: Int = defaultBuckets): Unit =
    graft.operators.IndexStore.withCommitLock(root) {
      compactImpl(spark, root, key, nBuckets)
    }

  private def compactImpl(spark: SparkSession, root: String, key: String,
      nBuckets: Int): Unit = {
    val vs = versions(root)
    if (vs.size < 2) return
    val claimed = latestBucketState(root)
    if (claimed.isEmpty) return
    val id = vs.last._1 + 1
    val paths = claimed.values.flatten.toSeq
    val vdir = new java.io.File(root, s"v$id")
    if (paths.nonEmpty)
      // bucket column recomputed from the key — deterministic murmur3,
      // identical to the assignment that placed each row originally
      spark.read.parquet(paths: _*)
        .withColumn("__bucket", bucketOf(key, nBuckets))
        .write.mode("overwrite").partitionBy("__bucket")
        .parquet(vdir.getPath)
    else { vdir.mkdirs(); () } // all claims are deleted-empty buckets
    // `_fold` marks this version as a compaction fold BEFORE the
    // manifest lands (manifest is the visibility gate, so a crash in
    // between leaves an invisible fold, never an unmarked visible one):
    // [[currentAsOf]] uses it to fail loudly below the retention
    // horizon instead of silently serving the base snapshot.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(vdir.getPath, "_fold"),
      Array.empty[Byte])
    // the fold CARRIES FORWARD the newest of each known sidecar
    // (round-12 review): the wipe below destroys every older version's
    // sidecars; without the carry a fully-folded root would re-seed its
    // watermark from the frontier max (the stricter-cutoff retry bug
    // `_hwm` exists to prevent) and lose the rollup retry marker
    // (`_batch` — a crash right after a fold-triggering commit would
    // then double-apply the batch's deltas).
    carriedSidecars.foreach { name =>
      vs.reverse.iterator
        .filter { case (_, d) => new java.io.File(d, "_buckets").isFile }
        .map { case (_, d) => new java.io.File(d, name) }
        .collectFirst { case f if f.isFile => f }
        .foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(vdir.getPath, name))
          ()
        }
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(vdir.getPath, "_buckets"),
      claimed.keys.toSeq.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
    vs.foreach { case (_, dir) => graft.operators.IndexStore.deleteRec(dir) }
  }

  /** Seed `root` with a version claiming ALL buckets — the maintainers
    * write the (group-/key-sized) base state once before the stream so
    * per-batch merge-on-read never re-executes the base's aggregate
    * plan for unclaimed buckets. */
  def seedBase(root: String, content: DataFrame, key: String,
      nBuckets: Int = defaultBuckets): Unit =
    commitIds(root, 0L, content, (0 until nBuckets), key, nBuckets)

  /** True iff `root` has at least one committed (manifested) version —
    * the cheap existence probe resume paths use before paying an
    * assembly job. */
  def hasVersions(root: String): Boolean =
    versions(root).exists { case (_, d) => new java.io.File(d, "_buckets").isFile }

  /** Next free version id: one past the highest MANIFESTED version.
    * Version ids must be allocated MONOTONE (not reused from batch ids)
    * because [[compact]] writes its fold above every directory — a
    * later commit at a recycled smaller id would be silently shadowed
    * by the fold. Unmanifested orphan dirs (a commit that crashed
    * between parquet and `_buckets`) are deliberately NOT counted
    * (round-12 review): they are invisible per the crash contract and
    * the retry semantics is overwrite-in-place — counting them would
    * wedge a root forever on `require(id >= nextVersionId)` after any
    * such crash (e.g. a re-run `seedBase(root, 0)`). The algebra each
    * maintainer commits (per-key max frontier, change-log winners,
    * zero-delta on re-application) keeps a retried batch idempotent
    * without deterministic ids. */
  def nextVersionId(root: String): Long =
    versions(root)
      .filter { case (_, d) => new java.io.File(d, "_buckets").isFile }
      .lastOption.map(_._1 + 1).getOrElse(0L)
}
