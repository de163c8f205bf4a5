package graft

import graft.cdc.{Envelope, LatestState}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDC2–CDC4 envelope + CDC9 latest-state: round-trip fidelity, selection
  * semantics, and the batch/streaming-merge equivalence that anchors the
  * upsert model (SURVEY §1.2). */
class CdcSpec extends SparkSpec {

  private def sample = Fixtures.df(spark, Fixtures.c3(spark))

  test("CDC3/CDC4: encode→decode round-trips every activity column") {
    val enc = Envelope.encode(sample, lit("insert"))
    assert(enc.columns.toSeq === Seq("value", "partitionKey"))
    val back = Envelope.flatten(Envelope.decode(enc)).drop("operation")
    val orig = sample.select(back.columns.map(col): _*)
    assert(back.except(orig).isEmpty && orig.except(back).isEmpty)
  }

  test("CDC4: decoded metadata carries the envelope contract") {
    val meta = Envelope.decode(Envelope.encode(sample, lit("load")))
      .select("metadata.*").distinct().collect()
    meta.foreach { r =>
      assert(r.getAs[String]("record-type") === "data")
      assert(r.getAs[String]("operation") === "load")
      assert(r.getAs[String]("schema-name") === "workshopDb")
      assert(r.getAs[String]("table-name") === "customeractivity")
      assert(r.getAs[String]("partition-key-type") === "primary-key")
    }
  }

  test("CDC5: partition key is the primary key as a string") {
    val keys = Envelope.encode(sample, lit("insert"))
      .select("partitionKey").distinct().collect().map(_.getString(0)).toSet
    assert(keys === Set("100001", "100002"))
  }

  test("decodeFlagged partitions exactly into decodeSplit's (ok, bad) legs") {
    import spark.implicits._
    // mixed stream: valid envelopes + unparseable garbage + valid JSON of
    // the wrong shape (parses to a null-operation metadata)
    val good = Envelope.encode(sample, lit("insert"))
    val mixed = good.select("value")
      .unionByName(Seq("{not json", """{"foo": 1}""").toDF("value"))
    val (ok, bad) = Envelope.decodeSplit(mixed)
    val flagged = Envelope.decodeFlagged(mixed)
    // the good leg matches decodeSplit's ok rows — NOTE the shape
    // difference: flagged carries (data, metadata, raw, is_bad), so the
    // documented substitution projects the split columns back out
    val flaggedOk = flagged.filter(!col("is_bad"))
      .select(col("data"), col("metadata"))
    assert(flaggedOk.exceptAll(ok).isEmpty && ok.exceptAll(flaggedOk).isEmpty)
    assert(ok.count() === sample.count())
    // the bad leg keeps the raw line, exactly decodeSplit's bad set
    val flaggedBad = flagged.filter(col("is_bad")).select(col("raw"))
    assert(flaggedBad.exceptAll(bad).isEmpty && bad.exceptAll(flaggedBad).isEmpty)
    assert(bad.count() === 2)
    // every input row lands in exactly one leg
    assert(flagged.count() === mixed.count())
  }

  test("CDC2: selection rule keeps workshopDb and drops foreign schemas") {
    val ours = Envelope.decode(Envelope.encode(sample, lit("insert")))
    val foreign = Envelope.decode(
      Envelope.encode(sample, lit("insert"), schemaName = "otherDb"))
    assert(Envelope.selection(ours).count() === sample.count())
    assert(Envelope.selection(foreign).count() === 0)
    // LIKE pattern narrows by table name
    assert(Envelope.selection(ours, tableLike = "customer%").count() === sample.count())
    assert(Envelope.selection(ours, tableLike = "orders%").count() === 0)
  }

  test("CDC9 batch: newest image wins, delete removes the key") {
    val changes = Fixtures.df(spark, Seq(
      Fixtures.row(1, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00"),
      Fixtures.row(1, "DEL", "CREDIT", "200.00", 120, "ENQUIRY", "2024-01-01 11:00:00"),
      Fixtures.row(2, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00"),
      Fixtures.row(3, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00")))
      .withColumn("operation",
        when(col("user_id") === 3 && col("ts") === ts("2024-01-01 10:00:00"), "delete")
          .otherwise("insert"))
    val state = LatestState.batch(changes)
    val rows = state.select("user_id", "city").collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    assert(rows === Map(1 -> "DEL", 2 -> "BOM")) // 3 deleted, 1 updated to DEL
  }

  test("CDC9 streaming merge == batch compaction over the same changes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state").toString + "/state"
    val merge = LatestState.foreachBatchMerge(spark, dir)
    val b1 = Fixtures.df(spark, Seq(
      Fixtures.row(1, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00"),
      Fixtures.row(2, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00")))
      .withColumn("operation", lit("load"))
    val b2 = Fixtures.df(spark, Seq(
      Fixtures.row(1, "DEL", "CREDIT", "200.00", 120, "ENQUIRY", "2024-01-01 11:00:00"),
      Fixtures.row(3, "MAA", "CREDIT", "300.00", 120, "ENQUIRY", "2024-01-01 11:00:00")))
      .withColumn("operation", lit("update"))
    val b3 = Fixtures.df(spark, Seq(
      Fixtures.row(2, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 12:00:00")))
      .withColumn("operation", lit("delete"))
    merge(b1, 0L); merge(b2, 1L); merge(b3, 2L)
    val streamed = spark.read.parquet(dir)
    val batch = LatestState.batch(b1.unionByName(b2).unionByName(b3)).drop("operation")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    val users = streamed.select("user_id", "city").collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    assert(users === Map(1 -> "DEL", 3 -> "MAA"))
  }

  test("incremental bucketed merge == full merge; untouched buckets not rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state_inc").toString + "/state"
    val nB = 16
    val merge = LatestState.foreachBatchMergeIncremental(spark, dir, nBuckets = nB)
    val b1 = Fixtures.df(spark, Seq(
      Fixtures.row(1, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00"),
      Fixtures.row(2, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00")))
      .withColumn("operation", lit("load"))
    val b2 = Fixtures.df(spark, Seq(
      Fixtures.row(1, "DEL", "CREDIT", "200.00", 120, "ENQUIRY", "2024-01-01 11:00:00"),
      Fixtures.row(3, "MAA", "CREDIT", "300.00", 120, "ENQUIRY", "2024-01-01 11:00:00")))
      .withColumn("operation", lit("update"))
    val b3 = Fixtures.df(spark, Seq(
      Fixtures.row(2, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 12:00:00")))
      .withColumn("operation", lit("delete"))
    def bucketOf(user: Int): Int = Fixtures.df(spark, Seq(
      Fixtures.row(user, "BOM", "CREDIT", "1.00", 1, "ENQUIRY", "2024-01-01 10:00:00")))
      .select(pmod(hash(col("user_id")), lit(nB))).head().getInt(0)
    def listing(): Map[String, Seq[(String, Long, Long)]] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().toSeq
          .map(f => (f.getName, f.length(), f.lastModified())).sortBy(_._1))
        .toMap

    merge(b1, 0L)
    val afterB1 = listing()
    merge(b2, 1L)
    // buckets NOT touched by b2 keep byte-identical files (same names,
    // sizes, mtimes — never rewritten)
    val touchedB2 = Set(bucketOf(1), bucketOf(3)).map("bucket=" + _)
    val untouched = afterB1.keySet -- touchedB2
    assert(listing().filterKeys(untouched).toMap
      === afterB1.filterKeys(untouched).toMap)
    merge(b3, 2L)
    // end state equals the full batch compaction
    val streamed = LatestState.readState(spark, dir)
    val batch = LatestState.batch(b1.unionByName(b2).unionByName(b3)).drop("operation")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    assert(streamed.select("user_id", "city").collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap === Map(1 -> "DEL", 3 -> "MAA"))
    // b3 deleted user 2: if its bucket held no other key, the directory
    // itself is gone (the touched-bucket-with-empty-result path)
    if (!Set(1, 3).map(bucketOf).contains(bucketOf(2)))
      assert(!new java.io.File(dir, "bucket=" + bucketOf(2)).exists())
    // replaying the last micro-batch is a no-op on the state (idempotent)
    merge(b3, 2L)
    val replayed = LatestState.readState(spark, dir)
    assert(replayed.except(batch).isEmpty && batch.except(replayed).isEmpty)
  }

  /** `n` distinct users from `first`, one change each. The local scan
    * splits them over the session's 4 cores, so several tasks hold rows of
    * one bucket, and adds no shuffle of its own, like a file-stream batch. */
  private def manyUsers(first: Int, n: Int, city: String, at: String, op: String): DataFrame =
    Fixtures.df(spark, (first until first + n).map(u =>
      Fixtures.row(u, city, "CREDIT", s"$u.00", 120, "ENQUIRY", at)))
      .withColumn("operation", lit(op))

  test("incremental merge: one batch on an existing state runs a pinned number of jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state_jobs").toString + "/state"
    val merge = LatestState.foreachBatchMergeIncremental(spark, dir, nBuckets = 16)
    merge(manyUsers(1, 200, "BOM", "2024-01-01 10:00:00", "load"), 0L)
    val group = "graft-merge-job-count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "one incremental merge")
      try merge(manyUsers(100, 200, "DEL", "2024-01-01 11:00:00", "update"), 1L)
      finally sc.clearJobGroup()
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    // The touched-bucket collect (it also fills the cache), then the
    // shuffle and write stages. The state read adds no job: its schema
    // comes from the batch and 16 bucket dirs list serially.
    assert(jobs.get === 3)
  }

  test("incremental merge: each touched bucket is written as one file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state_files").toString + "/state"
    val merge = LatestState.foreachBatchMergeIncremental(spark, dir, nBuckets = 16)
    def parquetFiles(): Map[String, Int] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    merge(manyUsers(1, 200, "BOM", "2024-01-01 10:00:00", "load"), 0L)
    assert(parquetFiles().size === 16 && parquetFiles().values.forall(_ == 1))
    merge(manyUsers(150, 200, "DEL", "2024-01-01 11:00:00", "update"), 1L)
    assert(parquetFiles().size === 16 && parquetFiles().values.forall(_ == 1))
    assert(LatestState.readState(spark, dir).count() === 349)
  }

  test("incremental merge: an empty batch writes nothing; no batch leaves a cache behind") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state_empty").toString + "/state"
    val merge = LatestState.foreachBatchMergeIncremental(spark, dir, nBuckets = 16)
    val b1 = Fixtures.df(spark, Seq(
      Fixtures.row(1, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00")))
      .withColumn("operation", lit("load"))
    val cache = spark.sharedState.cacheManager
    merge(b1.filter(lit(false)), 0L)
    assert(!new java.io.File(dir).exists()) // so no layout marker either
    assert(cache.isEmpty)
    merge(b1, 1L)
    assert(new java.io.File(dir, "_graft_layout.json").exists())
    assert(cache.isEmpty)
    intercept[IllegalArgumentException] {
      LatestState.foreachBatchMergeIncremental(spark, dir, nBuckets = 8)(b1, 2L)
    }
    assert(cache.isEmpty)
  }

  test("incremental merge: layout marker rejects a mismatched nBuckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state_lay").toString + "/state"
    val b1 = Fixtures.df(spark, Seq(
      Fixtures.row(1, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00")))
      .withColumn("operation", lit("load"))
    LatestState.foreachBatchMergeIncremental(spark, dir, nBuckets = 16)(b1, 0L)
    // same layout: fine
    LatestState.foreachBatchMergeIncremental(spark, dir, nBuckets = 16)(b1, 1L)
    // different modulus: touched-bucket pruning would read the wrong dirs —
    // must fail fast, not corrupt
    intercept[IllegalArgumentException] {
      LatestState.foreachBatchMergeIncremental(spark, dir, nBuckets = 8)(b1, 2L)
    }
    // different key: same guard
    intercept[IllegalArgumentException] {
      LatestState.foreachBatchMergeIncremental(spark, dir, key = "city", nBuckets = 16)(b1, 3L)
    }
    // a directory written by the full-rewrite variant (data, no marker) is
    // also refused
    val flat = java.nio.file.Files.createTempDirectory("graft_state_flat").toString + "/state"
    LatestState.foreachBatchMerge(spark, flat)(b1, 0L)
    intercept[IllegalArgumentException] {
      LatestState.foreachBatchMergeIncremental(spark, flat, nBuckets = 16)(b1, 1L)
    }
  }

  test("incremental merge: replay recovers a crash inside the swap window") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state_cr").toString + "/state"
    val nB = 16
    val merge = LatestState.foreachBatchMergeIncremental(spark, dir, nBuckets = nB)
    val b1 = Fixtures.df(spark, Seq(
      Fixtures.row(1, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00"),
      Fixtures.row(2, "MAA", "CREDIT", "200.00", 120, "ENQUIRY", "2024-01-01 10:00:00")))
      .withColumn("operation", lit("load"))
    merge(b1, 0L)
    val expected = LatestState.readState(spark, dir).collect().toSeq
    // Simulate the worst crash point: old bucket set aside, new one never
    // renamed in, tmp layout already gone. The bucket's only copy is the
    // aside dir; replay must restore it before merging.
    val buckets = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("bucket=")).sortBy(_.getName)
    val victim = buckets.head
    val b = victim.getName.stripPrefix("bucket=")
    assert(victim.renameTo(new java.io.File(dir, s"_old_bucket_$b")))
    // Replay of an unrelated batch (touches nothing in the victim bucket
    // unless hashing says so — either way state must survive intact)
    merge(b1, 0L)
    val recovered = LatestState.readState(spark, dir).collect().toSeq
    assert(recovered.toSet === expected.toSet)
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith("_old_bucket_")))
  }

  test("rebucket: 2x buckets round-trips state; marker enforces the new layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state_rb").toString + "/state"
    val merge16 = LatestState.foreachBatchMergeIncremental(spark, dir, nBuckets = 16)
    val b1 = Fixtures.df(spark, Seq(
      Fixtures.row(1, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00"),
      Fixtures.row(2, "MAA", "CREDIT", "200.00", 120, "ENQUIRY", "2024-01-01 10:00:00"),
      Fixtures.row(3, "DEL", "CREDIT", "300.00", 120, "ENQUIRY", "2024-01-01 10:00:00")))
      .withColumn("operation", lit("load"))
    merge16(b1, 0L)
    val before = LatestState.readState(spark, dir).collect().toSet
    LatestState.rebucket(spark, dir, newBuckets = 32)
    // state identical after the re-hash
    assert(LatestState.readState(spark, dir).collect().toSet === before)
    // old layout is refused, new layout merges on
    intercept[IllegalArgumentException] { merge16(b1, 1L) }
    val b2 = Fixtures.df(spark, Seq(
      Fixtures.row(1, "PNQ", "CREDIT", "150.00", 120, "ENQUIRY", "2024-01-01 11:00:00")))
      .withColumn("operation", lit("update"))
    LatestState.foreachBatchMergeIncremental(spark, dir, nBuckets = 32)(b2, 1L)
    val cities = LatestState.readState(spark, dir).select("user_id", "city")
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(cities === Map(1 -> "PNQ", 2 -> "MAA", 3 -> "DEL"))
  }

  test("rebucket: merge recovers a crash between the whole-directory renames") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state_rbcr").toString + "/state"
    val merge = LatestState.foreachBatchMergeIncremental(spark, dir, nBuckets = 16)
    val b1 = Fixtures.df(spark, Seq(
      Fixtures.row(1, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00"),
      Fixtures.row(2, "MAA", "CREDIT", "200.00", 120, "ENQUIRY", "2024-01-01 10:00:00")))
      .withColumn("operation", lit("load"))
    merge(b1, 0L)
    val expected = LatestState.readState(spark, dir).collect().toSet
    // Simulate the worst rebucket crash point: target renamed aside, the
    // new layout never renamed in. The state's ONLY copy is the aside dir.
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".rebucket.old")))
    // The next merge must restore the aside copy and proceed — NOT rebuild
    // from empty under a fresh marker.
    merge(b1, 0L)
    assert(LatestState.readState(spark, dir).collect().toSet === expected)
    assert(!new java.io.File(dir + ".rebucket.old").exists())
    // and a re-run rebucket after recovery completes normally
    LatestState.rebucket(spark, dir, newBuckets = 32)
    assert(LatestState.readState(spark, dir).collect().toSet === expected)
  }

  test("full-rewrite merge: replay recovers a crash between the swap renames") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state_fwcr").toString + "/state"
    val merge = LatestState.foreachBatchMerge(spark, dir)
    val b1 = Fixtures.df(spark, Seq(
      Fixtures.row(1, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00"),
      Fixtures.row(2, "MAA", "CREDIT", "200.00", 120, "ENQUIRY", "2024-01-01 10:00:00")))
      .withColumn("operation", lit("load"))
    merge(b1, 0L)
    val expected = spark.read.parquet(dir).collect().toSet
    // Worst crash point: state renamed aside, merged layout never renamed
    // in — the state's ONLY copy is the aside dir. (The pre-fix rm-then-
    // rename swap DELETED the state here; replay then rebuilt from the
    // batch alone, silently dropping every key not in it.)
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".merge.old")))
    merge(b1, 0L)
    assert(spark.read.parquet(dir).collect().toSet === expected)
    assert(!new java.io.File(dir + ".merge.old").exists())
  }

  test("swap recovery, delete-lost branch: an aside dir WITH a live target " +
    "is garbage — dropped, target untouched (all three recovery paths)") {
    // The OTHER crash window: the swap completed (target holds the NEW
    // state) but the final aside-delete was lost. Recovery must keep the
    // target and drop the stale aside copy — restoring the aside here
    // would roll the state back a batch.
    def copyDir(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        if (f.isDirectory) copyDir(f, new java.io.File(dst, f.getName))
        else java.nio.file.Files.copy(f.toPath,
          new java.io.File(dst, f.getName).toPath): Unit
      }
    }
    val base = java.nio.file.Files.createTempDirectory("graft_state_dl").toString
    val dir = base + "/state"
    val merge = LatestState.foreachBatchMergeIncremental(spark, dir, nBuckets = 8)
    val b1 = Fixtures.df(spark, Seq(
      Fixtures.row(1, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00"),
      Fixtures.row(2, "MAA", "CREDIT", "200.00", 120, "ENQUIRY", "2024-01-01 10:00:00")))
      .withColumn("operation", lit("load"))
    merge(b1, 0L)
    val expected = LatestState.readState(spark, dir).collect().toSet
    val target = new java.io.File(dir)
    // (a) whole-directory rebucket aside alongside a live target
    copyDir(target, new java.io.File(dir + ".rebucket.old"))
    // (b) full-rewrite merge aside alongside a live target
    copyDir(target, new java.io.File(dir + ".merge.old"))
    // (c) per-bucket aside alongside its live bucket dir (STALE content —
    // recovery keeping target, not content equality, is what's under test)
    val bucket = target.listFiles().filter(_.getName.startsWith("bucket=")).head
    val b = bucket.getName.stripPrefix("bucket=")
    copyDir(bucket, new java.io.File(target, s"_old_bucket_$b"))
    // read-time recovery (round 10: readState runs ALL recovery paths, so
    // an external reader never waits for the next non-empty micro-batch)
    assert(LatestState.readState(spark, dir).collect().toSet === expected)
    assert(!new java.io.File(dir + ".rebucket.old").exists())
    assert(!new java.io.File(dir + ".merge.old").exists())
    assert(!target.listFiles().exists(_.getName.startsWith("_old_bucket_")))
  }

  test("readState alone recovers a between-renames crash (no merge needed)") {
    // Crash between the rebucket renames, then the FIRST touch is a read,
    // not a merge: before round 10 the state's only copy sat invisible in
    // the aside dir until a non-empty batch arrived; readState now recovers.
    val dir = java.nio.file.Files.createTempDirectory("graft_state_ro").toString + "/state"
    val merge = LatestState.foreachBatchMergeIncremental(spark, dir, nBuckets = 8)
    val b1 = Fixtures.df(spark, Seq(
      Fixtures.row(7, "PNQ", "DEBIT", "70.00", 60, "TRANSFER", "2024-02-01 09:00:00")))
      .withColumn("operation", lit("load"))
    merge(b1, 0L)
    val expected = LatestState.readState(spark, dir).collect().toSet
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".rebucket.old")))
    assert(LatestState.readState(spark, dir).collect().toSet === expected)
    assert(!new java.io.File(dir + ".rebucket.old").exists())
  }

  test("batch compaction: full-tie winner is deterministic across layouts") {
    // same key, same ts, same operation, different payloads — the window
    // tie must break by CONTENT, not task order, or crash-replay could
    // materialize a different image than the first run
    val rows = Seq(
      Fixtures.row(1, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00"),
      Fixtures.row(1, "DEL", "CREDIT", "999.00", 500, "FOREX", "2024-01-01 10:00:00"))
    def winner(df: org.apache.spark.sql.DataFrame): String =
      LatestState.batch(df.withColumn("operation", lit("update")))
        .collect().map(_.getAs[String]("city")).head
    val a = winner(Fixtures.df(spark, rows))
    assert(winner(Fixtures.df(spark, rows.reverse)) === a)
    assert(winner(Fixtures.df(spark, rows).repartition(13)) === a)
    assert(winner(Fixtures.df(spark, rows).coalesce(1)) === a)
    // the incremental merge applies the same rule, so it keeps the same image
    def mergedWinner(df: DataFrame): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_state_tie").toString + "/state"
      LatestState.foreachBatchMergeIncremental(spark, dir, nBuckets = 16)(
        df.withColumn("operation", lit("update")), 0L)
      LatestState.readState(spark, dir).collect().map(_.getAs[String]("city")).head
    }
    assert(mergedWinner(Fixtures.df(spark, rows)) === a)
    assert(mergedWinner(Fixtures.df(spark, rows.reverse).repartition(13)) === a)
  }

  test("scd2History: validity chain, versions, current flag") {
    val changes = Fixtures.df(spark, Seq(
      Fixtures.row(1, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00"),
      Fixtures.row(1, "DEL", "CREDIT", "200.00", 120, "ENQUIRY", "2024-01-01 11:00:00"),
      Fixtures.row(1, "MAA", "CREDIT", "300.00", 120, "ENQUIRY", "2024-01-01 12:00:00"),
      Fixtures.row(2, "BOM", "CREDIT", "400.00", 120, "ENQUIRY", "2024-01-01 10:30:00")))
      .withColumn("event_id", monotonically_increasing_id())
    val got = LatestState.scd2History(changes)
      .select("user_id", "city", "valid_from", "valid_to", "version", "is_current")
      .collect()
      .map(r => (r.getInt(0), r.getString(1),
        Option(r.getTimestamp(3)).map(_.toString).orNull,
        r.getLong(4), r.getLong(5)))
      .sortBy(t => (t._1, t._4))
    assert(got.toSeq === Seq(
      (1, "BOM", "2024-01-01 11:00:00.0", 1L, 0L),
      (1, "DEL", "2024-01-01 12:00:00.0", 2L, 0L),
      (1, "MAA", null, 3L, 1L),
      (2, "BOM", null, 1L, 1L)))
    // Each key's intervals tile: row k's valid_to == row k+1's valid_from.
    val u1 = LatestState.scd2History(changes).filter(col("user_id") === 1)
      .orderBy("version").collect()
    u1.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[java.sql.Timestamp]("valid_to")
        === b.getAs[java.sql.Timestamp]("valid_from"))
    }
  }

  test("asOf: interval boundaries are [from, to) and current rows qualify") {
    val changes = Fixtures.df(spark, Seq(
      Fixtures.row(1, "BOM", "CREDIT", "100.00", 120, "ENQUIRY", "2024-01-01 10:00:00"),
      Fixtures.row(1, "DEL", "CREDIT", "200.00", 120, "ENQUIRY", "2024-01-01 11:00:00")))
      .withColumn("event_id", monotonically_increasing_id())
    val hist = LatestState.scd2History(changes)
    def cityAt(at: String): String =
      LatestState.asOf(hist, java.sql.Timestamp.valueOf(at))
        .select("city").collect().map(_.getString(0)).head
    assert(cityAt("2024-01-01 10:30:00") === "BOM")
    assert(cityAt("2024-01-01 11:00:00") === "DEL") // valid_to is EXCLUSIVE
    assert(cityAt("2024-01-02 00:00:00") === "DEL") // open current interval
  }

  test("snapshotDiff: insert/delete/update classified, unchanged suppressed") {
    import spark.implicits._
    val old = Seq((1L, "a", Some(10L)), (2L, "b", Some(20L)),
      (3L, "c", None: Option[Long]), (4L, "gone", Some(40L)))
      .toDF("user_id", "name", "score")
    val neu = Seq((1L, "a", Some(10L)), (2L, "B", Some(20L)),
      (3L, "c", Some(30L)), (5L, "new", Some(50L)))
      .toDF("user_id", "name", "score")
    val got = LatestState.snapshotDiff(old, neu)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // 1 unchanged (absent), 2 update (name), 3 update (null -> value),
    // 4 delete, 5 insert
    assert(got.toSeq === Seq((2L, "update"), (3L, "update"),
      (4L, "delete"), (5L, "insert")))
  }

  test("snapshotDiff: fingerprint is injective across separator/sentinel collisions") {
    import spark.implicits._
    // ("a\u0001b", "c") vs ("a", "b\u0001c"): naive concat_ws produces the
    // produces the SAME joined string — an update the old fingerprint suppressed
    val old1 = Seq((1L, "a\u0001b", "c")).toDF("user_id", "x", "y")
    val new1 = Seq((1L, "a", "b\u0001c")).toDF("user_id", "x", "y")
    assert(LatestState.snapshotDiff(old1, new1)
      .collect().map(_.getString(1)).toSeq === Seq("update"))
    // NULL vs the literal one-char "\u0000" string: the bare sentinel vs
    // its length-prefixed encoding must differ
    val old2 = Seq((1L, Option.empty[String])).toDF("user_id", "x")
    val new2 = Seq((1L, Option("\u0000"))).toDF("user_id", "x")
    assert(LatestState.snapshotDiff(old2, new2)
      .collect().map(_.getString(1)).toSeq === Seq("update"))
    // and genuinely unchanged rows still suppress
    assert(LatestState.snapshotDiff(old1, old1).count() === 0)
  }
}
