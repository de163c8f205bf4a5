package graft.cdc

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC9 — latest-state materialization. The reference's PK + ON UPDATE
  * CURRENT_TIMESTAMP (setupTables.py:51,57-58) makes the OLTP table
  * latest-state while the lake holds full history; this module reconstructs
  * the former from the latter.
  *
  * Batch: one shuffle on the key, per-key ROW_NUMBER, drop deletes — the
  * canonical upsert-compaction job at any scale.
  *
  * Streaming: `foreachBatch` merge into a parquet target. With no
  * transactional table format in this offline env, the merge materializes
  * state∪batch under the same dedup. Two variants: `foreachBatchMerge`
  * rewrites the whole state (semantic reference, O(|state|)/batch) and
  * `foreachBatchMergeIncremental` hash-buckets the state and rewrites only
  * the buckets a batch touches (the scale path — per-batch cost tracks the
  * BATCH, not the state). On a lakehouse table (Delta/Iceberg) both become
  * MERGE INTO.
  */
object LatestState {

  /** Batch compaction of a change log (activity columns + `operation` +
    * ordering column). Keeps the newest image per key; a delete as the
    * newest image removes the key. Ties on the ordering column break by
    * operation precedence delete > update > insert > load (a change beats
    * the snapshot it followed within the same timestamp). */
  def batch(changes: DataFrame, key: String = "user_id",
            orderCol: String = "ts"): DataFrame =
    newestImage(changes, Nil, key, orderCol)

  /** `batch`'s newest-image rule with `lead` partition columns ahead of the
    * key. Each lead column must be a function of the key, so the groups and
    * their winners are exactly `batch`'s; a child already hash-partitioned
    * on the lead columns then needs no second shuffle. Lead columns stay
    * out of the tiebreak hash, so a full tie picks the image `batch` picks. */
  private def newestImage(changes: DataFrame, lead: Seq[String], key: String,
                          orderCol: String): DataFrame = {
    val prio = when(col("operation") === "delete", 3)
      .when(col("operation") === "update", 2)
      .when(col("operation") === "insert", 1)
      .otherwise(0)
    // Final tiebreak: a content hash. Two changes sharing BOTH timestamp
    // and operation (routine at second-granularity sources) would
    // otherwise pick a winner by task/partition order — and the streaming
    // merges' idempotent-replay guarantee ("pure function of state and
    // batch") would be false: a crash-replay could materialize the other
    // image. The hash picks an arbitrary but DETERMINISTIC winner.
    val content = changes.columns.filterNot(lead.contains)
    val w = Window.partitionBy((lead :+ key).map(col): _*)
      .orderBy(col(orderCol).desc, prio.desc, xxhash64(content.map(col): _*).desc)
    changes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("operation") =!= "delete")
      .drop("rn")
  }

  /** SCD2 (type-2 slowly-changing-dimension) HISTORY materialization — the
    * batch sibling of `batch` above: instead of keeping only each key's
    * newest image, emit EVERY image with its validity interval. This is the
    * standard silver-layer history table built from a CDC change log:
    * `valid_from` = the change's timestamp, `valid_to` = the next change's
    * timestamp for the same key (null = still current), `version` = 1-based
    * change ordinal per key.
    *
    * Scale: one shuffle on the key, one window pass (lead + row_number over
    * the same (key, ts, ord) sort — a single WindowExec, no join against
    * self; the naive "join each row to its successor" form shuffles twice
    * and breaks on duplicate timestamps). Ties order by `ord` (a unique
    * in-key sequence column, e.g. the event/transaction id). */
  def scd2History(changes: DataFrame, key: String = "user_id",
                  tsCol: String = "ts", ord: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol), col(ord))
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1L).otherwise(0L))
  }

  /** Point-in-time lookup over an SCD2 history (`scd2History` output):
    * the state of every key as of `at` — the interval containing it.
    * With a history table partitioned/z-ordered on the key this is a
    * pruned scan + filter, no recomputation of the log. */
  def asOf(history: DataFrame, at: java.sql.Timestamp): DataFrame =
    history.filter(col("valid_from") <= lit(at)
      && (col("valid_to").isNull || col("valid_to") > lit(at)))

  /** SNAPSHOT DIFF — the table-level change detector: given two snapshots
    * with the same schema, emit one row per key that was inserted, deleted,
    * or updated between them (unchanged keys are suppressed). This is the
    * CDC bootstrap tool for sources with no binlog: diff yesterday's and
    * today's snapshot, get the change stream.
    *
    * Scale shape: each side reduces to (key, md5-of-payload) IN THE SCAN
    * PROJECTION, so the full-outer join shuffles 32-byte digests, never the
    * payload; change classification is a null/compare on the joined row.
    * Payload columns are the non-key columns COMMON to both snapshots,
    * compared as canonical strings with null sentinels. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   key: Seq[String] = Seq("user_id")): DataFrame = {
    val payload = oldSnap.columns.filter(newSnap.columns.contains)
      .filterNot(key.contains).sorted
    // Injective encoding (netstring-style): each value is LENGTH-PREFIXED
    // before joining, so a separator or sentinel character occurring IN a
    // value cannot fake a column boundary — ("a\u0001b","c") vs
    // ("a","b\u0001c") now fingerprint differently, and a literal
    // "\u0000" value (encoded "1:\u0000") differs from the bare null
    // sentinel.
    def fingerprint(name: String)(df: DataFrame): DataFrame =
      df.select(key.map(col) :+ md5(concat_ws("\u0001",
        payload.map { c =>
          val s = col(c).cast("string")
          coalesce(concat(length(s).cast("string"), lit(":"), s), lit("\u0000"))
        }: _*))
        .as(name): _*)
    fingerprint("h_old")(oldSnap)
      .join(fingerprint("h_new")(newSnap), key, "full_outer")
      .withColumn("change",
        when(col("h_old").isNull, "insert")
          .when(col("h_new").isNull, "delete")
          .when(col("h_old") =!= col("h_new"), "update"))
      .filter(col("change").isNotNull)
      .select(key.map(col) :+ col("change"): _*)
  }

  /** Streaming merge: apply each micro-batch of envelope-flattened changes
    * (activity columns + `operation`) onto the parquet state at
    * `targetPath`. Replays of the same micro-batch are idempotent — the
    * merged result is a pure function of (existing state, batch).
    *
    * FULL-REWRITE variant: reads and rewrites the entire state every
    * micro-batch — O(|state|) per batch regardless of batch size. Kept as
    * the semantic reference and for tiny states; the scale path is
    * `foreachBatchMergeIncremental` below. */
  def foreachBatchMerge(spark: SparkSession, targetPath: String,
                        key: String = "user_id", orderCol: String = "ts")
      : (DataFrame, Long) => Unit = { (batchDf: DataFrame, _: Long) =>
    if (!batchDf.isEmpty) {
      val target = new java.io.File(targetPath)
      // Recover a swap interrupted between its two renames (same
      // discipline as rebucket): without this, a crash in that window
      // would leave the state's only copy in the aside dir and the replay
      // would silently rebuild from the batch alone.
      recoverMergeSwap(targetPath)
      val existing =
        if (target.exists())
          // Existing state re-enters the merge as the lowest-precedence
          // image ("load"): a change in this batch with an equal timestamp
          // must win over the state it updates.
          Some(spark.read.parquet(targetPath).withColumn("operation", lit("load")))
        else None
      val all = existing.fold(batchDf)(batchDf.unionByName(_))
      val merged = batch(all, key, orderCol).drop("operation")
      val tmp = targetPath + ".tmp"
      merged.write.mode("overwrite").parquet(tmp)
      // Swap via rename-aside, NEVER rm-then-rename: at no instant is the
      // only surviving copy inside the tmp layout. A crash before the
      // second rename is undone by recoverMergeSwap on replay; a crash
      // after it leaves only the aside garbage to drop.
      val aside = new java.io.File(targetPath + ".merge.old")
      if (target.exists() && !target.renameTo(aside))
        throw new java.io.IOException(s"latest-state set-aside failed: $target -> $aside")
      if (!new java.io.File(tmp).renameTo(target))
        throw new java.io.IOException(s"latest-state swap failed: $tmp -> $targetPath")
      if (aside.exists()) rm(aside)
    }
  }

  /** Crash recovery for `foreachBatchMerge`'s rename-aside swap — the
    * merge twin of recoverRebucketSwap: aside WITH a live target = only
    * the final delete was lost (drop it); aside WITHOUT a target = the
    * crash hit between the renames and the aside copy IS the state. */
  private def recoverMergeSwap(targetPath: String): Unit = {
    val target = new java.io.File(targetPath)
    val aside = new java.io.File(targetPath + ".merge.old")
    if (aside.exists()) {
      if (target.exists()) rm(aside)
      else if (!aside.renameTo(target))
        throw new java.io.IOException(s"merge recovery failed: $aside -> $target")
    }
  }

  /** INCREMENTAL streaming merge — the scale path for CDC9 (the asymptotic
    * analog of the reference's DMS applying changes in place,
    * `lib/fin-transactions-stack.ts:160-166`, rather than reloading the
    * table). State lives hash-bucketed on the key:
    * `targetPath/bucket=N/…parquet`, N = pmod(hash(key), nBuckets). Each
    * micro-batch runs one pass:
    *
    *   1. persists the batch's bucket projection and collects its TOUCHED
    *      buckets in one stage (the distinct buckets of each partition,
    *      deduplicated after the collect — at most nBuckets × partitions ints,
    *      bounded by the layout, never by data volume). That collect fills
    *      the cache; a batch with no touched bucket is empty and writes
    *      nothing, not even the layout marker;
    *   2. reads ONLY those bucket directories of the existing state
    *      (partition pruning on the `bucket` partition column), with the
    *      state schema taken from the batch, so no footer-inference job
    *      runs;
    *   3. shuffles (touched state ∪ batch) once on the bucket and runs
    *      `batch`'s newest-image rule with the bucket as leading window
    *      partition column — the same groups, since the bucket is a
    *      function of the key, and no second shuffle;
    *   4. writes each touched bucket as ONE file, the buckets in parallel
    *      across the shuffle's tasks, to a tmp layout, then swaps ONLY the
    *      touched bucket directories in.
    *
    * That is four Spark jobs on an existing state: the touched collect, the
    * file listing of the state root (a job only once the root holds more
    * than Spark's parallel-discovery threshold of 32 bucket dirs), and the
    * shuffle and write stages. The cache is released when the batch ends,
    * failed or not. `persist` keeps the lineage: an executor lost mid-batch
    * recomputes its partitions from the source files, where a
    * `localCheckpoint` would fail the batch with
    * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`.
    *
    * Per-batch cost is O(|batch| + |state|·touched/nBuckets) instead of
    * O(|state|): a micro-batch touching k keys rewrites at most k buckets
    * ≈ k/nBuckets of the state. Crash safety: each swap renames the old
    * bucket aside (`_old_bucket_N` — the `_` prefix hides it from Spark
    * reads) BEFORE renaming the new one in, and deletes the aside copy
    * last; replay first restores any aside dir whose swap didn't complete,
    * then re-runs the same pure merge (idempotent, same fixed point). A
    * crash at ANY point therefore loses no bucket: the data is always in
    * `bucket=N` or `_old_bucket_N`, never only in the tmp layout. On a
    * lakehouse table (Delta/Iceberg) steps 2-4 become MERGE INTO and the
    * bucketing becomes the table's clustering; the plan shape is the same.
    *
    * The physical layout (nBuckets, hash discipline, key) is pinned by a
    * `_graft_layout.json` marker written on first use; later batches
    * `require()` it matches, so invoking with a different nBuckets/key —
    * or pointing at a directory written by the full-rewrite variant —
    * fails fast instead of silently leaving stale rows in unread buckets.
    *
    * Read the materialized state back with `readState` (drops the layout's
    * `bucket` column). */
  def foreachBatchMergeIncremental(spark: SparkSession, targetPath: String,
                                   key: String = "user_id", orderCol: String = "ts",
                                   nBuckets: Int = 64)
      : (DataFrame, Long) => Unit = { (batchDf: DataFrame, _: Long) =>
    // Consumed twice (touched list + merge): persist keeps the source
    // micro-batch from being rescanned.
    val withB = batchDf.withColumn("bucket", pmod(hash(col(key)), lit(nBuckets))).persist()
    try {
      val touched = withB.select(col("bucket")).as(Encoders.scalaInt)
        .mapPartitions(_.toSet.iterator)(Encoders.scalaInt)
        .collect().distinct.sorted
      if (touched.nonEmpty) {
        val target = new java.io.File(targetPath)
        recoverRebucketSwap(targetPath)
        recoverAsideBuckets(target)
        checkOrWriteLayout(target, nBuckets, key)
        val existing =
          if (target.listFiles().exists(_.getName.startsWith("bucket=")))
            // Existing state re-enters the merge as the lowest-precedence
            // image ("load"), as in the full-rewrite merge.
            Some(spark.read.schema(withB.drop("operation").schema).parquet(targetPath)
              .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
              .withColumn("operation", lit("load")))
          else None
        // A repartition with a fixed count is never coalesced by AQE, so
        // the write keeps one task per shuffle partition.
        val all = existing.fold(withB)(withB.unionByName(_))
          .repartition(spark.sessionState.conf.numShufflePartitions, col("bucket"))
        val merged = newestImage(all, Seq("bucket"), key, orderCol).drop("operation")
        val tmp = new java.io.File(targetPath + ".tmp")
        if (tmp.exists()) rm(tmp)
        merged.write.partitionBy("bucket").parquet(tmp.getPath)
        // Per-bucket swap: only the touched directories change; every other
        // bucket's files are left byte-identical (asserted in CdcSpec).
        // Swap discipline (crash-safe): rename the old dir ASIDE first, then
        // the new dir in, then drop the aside copy — at no instant is the
        // bucket's only surviving copy inside the tmp layout, so a crash in
        // this window is recoverable (recoverAsideBuckets on replay).
        touched.foreach { b =>
          val dst = new java.io.File(target, s"bucket=$b")
          val aside = new java.io.File(target, s"${AsidePrefix}$b")
          if (aside.exists()) rm(aside) // leftover garbage; dst holds the data
          if (dst.exists() && !dst.renameTo(aside))
            throw new java.io.IOException(s"bucket set-aside failed: $dst -> $aside")
          val src = new java.io.File(tmp, s"bucket=$b")
          // A touched bucket whose keys all ended deleted has no output dir:
          // removing the old dir IS the merge result for it.
          if (src.exists() && !src.renameTo(dst))
            throw new java.io.IOException(s"bucket swap failed: $src -> $dst")
          if (aside.exists()) rm(aside)
        }
        rm(tmp)
      }
    } finally withB.unpersist()
  }

  /** `_` prefix: Spark's file listing ignores `_`/`.`-prefixed paths, so an
    * aside copy never leaks into a concurrent read of the state. */
  private val AsidePrefix = "_old_bucket_"
  private val LayoutMarker = "_graft_layout.json"

  /** Replay-time recovery for a crash inside the swap window: an aside dir
    * with no `bucket=N` means the old state was set aside but the new dir
    * never made it in — restore it (the re-merge then proceeds from the
    * pre-crash fixed point). An aside dir WITH a `bucket=N` means the swap
    * completed and only the final delete was lost — drop the garbage. */
  private def recoverAsideBuckets(target: java.io.File): Unit =
    if (target.isDirectory) {
      Option(target.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith(AsidePrefix)).foreach { aside =>
          val b = aside.getName.stripPrefix(AsidePrefix)
          val dst = new java.io.File(target, s"bucket=$b")
          if (dst.exists()) rm(aside)
          else if (!aside.renameTo(dst))
            throw new java.io.IOException(s"bucket recovery failed: $aside -> $dst")
        }
    }

  /** Pin the physical layout: first use writes the marker; every later
    * batch requires an exact match, so a caller with a different nBuckets
    * (wrong modulus → touched-bucket pruning reads the wrong directories)
    * or a directory produced by the full-rewrite variant (no marker, flat
    * files) fails fast instead of silently corrupting state. */
  private def layoutJson(nBuckets: Int, key: String): String =
    s"""{"layout":"hash-bucket","nBuckets":$nBuckets,"key":"$key","hash":"pmod(hash(key),nBuckets)"}"""

  private def checkOrWriteLayout(target: java.io.File, nBuckets: Int,
                                 key: String): Unit = {
    val marker = new java.io.File(target, LayoutMarker)
    val expect = layoutJson(nBuckets, key)
    if (marker.exists()) {
      val got = new String(
        java.nio.file.Files.readAllBytes(marker.toPath), java.nio.charset.StandardCharsets.UTF_8)
      require(got == expect,
        s"latest-state layout mismatch at $target: on-disk $got, caller expects $expect")
    } else {
      val entries = Option(target.listFiles()).getOrElse(Array.empty[java.io.File])
      require(!entries.exists(f =>
          f.getName.startsWith("bucket=") || f.getName.endsWith(".parquet")),
        s"$target holds data but no $LayoutMarker — refusing to merge " +
          "incrementally into a directory not written by this variant")
      target.mkdirs()
      java.nio.file.Files.write(marker.toPath,
        expect.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    }
  }

  /** The state materialized by `foreachBatchMergeIncremental` (or the
    * full-rewrite merge), minus the physical-layout `bucket` column.
    *
    * Runs every crash-swap recovery FIRST: after a crash between a swap's
    * two renames, the state's only copy sits in an aside dir until some
    * entry point notices — if only the merge sinks recovered, an external
    * reader (this method, a downstream job) would see NO state at all
    * until the next non-empty micro-batch happened to arrive. Recovering
    * at read-time closes that window at the first read. */
  def readState(spark: SparkSession, targetPath: String): DataFrame = {
    recoverMergeSwap(targetPath)
    recoverRebucketSwap(targetPath)
    recoverAsideBuckets(new java.io.File(targetPath))
    spark.read.parquet(targetPath).drop("bucket")
  }

  /** RE-BUCKETING — the 100×-growth story for the incremental merge.
    * nBuckets is fixed at table creation (the marker pins it); when the
    * state outgrows the layout (per-bucket size approaching executor
    * memory, or touched/nBuckets no longer amortizing), run this offline
    * compaction: read the full state once, re-hash every key under the new
    * modulus, write the new layout to a tmp directory (the `partitionBy`
    * re-hash IS the one shuffle), then whole-directory swap — the same
    * rename-aside discipline as the per-bucket swap, so a crash at any
    * point leaves a complete copy under either the target or the `.old`
    * path. Equivalent to a lakehouse table's re-clustering / OPTIMIZE; run
    * it like one (between streaming epochs — the merge sink and this job
    * must not interleave). Subsequent merges MUST pass the new nBuckets;
    * the refreshed marker enforces that. */
  def rebucket(spark: SparkSession, targetPath: String, newBuckets: Int,
               key: String = "user_id"): Unit = {
    // Recover any interrupted PREVIOUS swap before touching anything: if
    // the last rebucket crashed between its two renames, the state's only
    // copy is the aside dir — a blind rm here would destroy it.
    recoverRebucketSwap(targetPath)
    val target = new java.io.File(targetPath)
    recoverAsideBuckets(target)
    val tmp = new java.io.File(targetPath + ".rebucket.tmp")
    if (tmp.exists()) rm(tmp)
    readState(spark, targetPath)
      .withColumn("bucket", pmod(hash(col(key)), lit(newBuckets)))
      .write.partitionBy("bucket").parquet(tmp.getPath)
    java.nio.file.Files.write(new java.io.File(tmp, LayoutMarker).toPath,
      layoutJson(newBuckets, key).getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    val aside = new java.io.File(targetPath + ".rebucket.old")
    if (!target.renameTo(aside))
      throw new java.io.IOException(s"rebucket set-aside failed: $target -> $aside")
    if (!tmp.renameTo(target))
      throw new java.io.IOException(s"rebucket swap failed: $tmp -> $target")
    rm(aside)
  }

  /** Crash recovery for `rebucket`'s whole-directory swap, run by every
    * entry point that touches the state: an aside dir WITH a live target
    * means the swap completed and only the final delete was lost (drop the
    * garbage); an aside dir WITHOUT a target means the crash hit between
    * the two renames and the aside copy is the state — restore it. Without
    * this, the next merge would see no target, write a fresh marker, and
    * silently rebuild from empty while the real state sat in `.old`. */
  private def recoverRebucketSwap(targetPath: String): Unit = {
    val target = new java.io.File(targetPath)
    val aside = new java.io.File(targetPath + ".rebucket.old")
    if (aside.exists()) {
      if (target.exists()) rm(aside)
      else if (!aside.renameTo(target))
        throw new java.io.IOException(s"rebucket recovery failed: $aside -> $target")
    }
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete(): Unit
  }
}
