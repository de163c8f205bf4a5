package graft

import graft.cdc.{Envelope, LatestState}
import graft.datagen.DataGen
import graft.functions.Validation
import graft.sources.{CdcSource, Oltp}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The reference's whole dataflow, wired end-to-end through this engine:
  * generator → OLTP store → full-load + tail CDC envelopes → streaming
  * consumer → latest-state materialization — then cross-checked: the lake
  * consumer's reconstructed state must equal the OLTP PRIMARY-KEY view,
  * which is the single most important semantic of the reference
  * (SURVEY §1.2: source holds latest state, lake holds history).
  */
class PipelineSpec extends SparkSpec {

  test("end-to-end: datagen -> OLTP -> full-load+tail CDC -> latest-state == PK view") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val drop = tmp + "/drop"
    val statePath = tmp + "/state"

    // GEN2: initial workload — 500 rows over the 1000-id slice (each id
    // used at most once), writer-stamped January timestamps
    val initial = DataGen.activity(spark, rows = 500, seed = 42L)
    Oltp.createActivityTable(spark, table = "e2e", location = Some(tmp + "/oltp"))
    Oltp.insertWorkload(initial, table = "e2e")

    // CDC1 full-load phase: snapshot the OLTP table as 'load' envelopes
    CdcSource.writeEnvelopes(spark.table("workshopdb.e2e"), "load", drop)

    // tail phase: 100 February rows re-using the FIRST 100 ids of the same
    // slice (same seed => same permutation) — updates in place, PK-style
    val tail = DataGen.activity(spark, rows = 100, seed = 42L,
      baseTs = "2024-02-01 00:00:00")
    Oltp.insertWorkload(tail, table = "e2e")
    CdcSource.writeEnvelopes(tail, "update", drop)

    // consumer: tail the drop dir, merge each micro-batch into parquet state
    val q = CdcSource.activityStream(spark, drop)
      .writeStream
      .foreachBatch(LatestState.foreachBatchMerge(spark, statePath))
      .option("checkpointLocation", tmp + "/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val reconstructed = spark.read.parquet(statePath)
    val pkView = Oltp.latestView(spark, table = "e2e")

    // the lake consumer's state == the OLTP PK view, column for column
    val cols = pkView.columns.sorted.map(col).toSeq
    assert(reconstructed.count() === 500) // 500 distinct users
    assert(reconstructed.select(cols: _*).except(pkView.select(cols: _*)).isEmpty
      && pkView.select(cols: _*).except(reconstructed.select(cols: _*)).isEmpty)

    // updated users carry February images; untouched users keep January
    assert(reconstructed.filter(col("ts") >= "2024-02-01").count() === 100)

    // VAL1 over the same flow: valid + quarantine partition the input, and
    // quarantine is exactly the generator's NONMON bug
    val v = Validation.valid(initial).count()
    val bad = Validation.quarantine(initial)
    assert(v + bad.count() === 500)
    assert(bad.select(explode(col("violations"))).distinct()
      .collect().map(_.getString(0)).toSet === Set("transaction_type_domain"))
  }

  test("incremental merge inside a foreachBatch stream == batch compaction, over two batches") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_e2e_inc").toString
    val drop = tmp + "/drop"
    val statePath = tmp + "/state"
    def drain(): Unit = {
      val q = CdcSource.activityStream(spark, drop)
        .writeStream
        .foreachBatch(LatestState.foreachBatchMergeIncremental(spark, statePath))
        .option("checkpointLocation", tmp + "/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }

    // batch 0: the full load
    val initial = DataGen.activity(spark, rows = 300, seed = 7L)
    CdcSource.writeEnvelopes(initial, "load", drop)
    drain()
    // batch 1: February updates of the first 100 ids of the slice, plus
    // deletes of every 7th loaded user, dated after the updates
    CdcSource.writeEnvelopes(DataGen.activity(spark, rows = 100, seed = 7L,
      baseTs = "2024-02-01 00:00:00"), "update", drop)
    CdcSource.writeEnvelopes(initial.filter(pmod(col("user_id"), lit(7)) === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 60 DAYS")), "delete", drop)
    drain()

    val changes = Envelope.flatten(Envelope.selection(Envelope.decode(spark.read.text(drop))))
    val expected = LatestState.batch(changes).drop("operation")
    val streamed = LatestState.readState(spark, statePath)
    val cols = expected.columns.sorted.map(col).toSeq
    assert(streamed.select(cols: _*).exceptAll(expected.select(cols: _*)).isEmpty
      && expected.select(cols: _*).exceptAll(streamed.select(cols: _*)).isEmpty)
    val deleted = initial.filter(pmod(col("user_id"), lit(7)) === 0).count()
    assert(deleted > 0 && streamed.count() === 300 - deleted)
  }
}
