package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.cdc.LatestState
import graft.lake.Silver
import graft.rules.BatchRules
import graft.schema.{CustomerActivity, Schemas}
import graft.sources.CdcSource
import graft.streaming.{StatefulRules, StreamOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Shape of one CDC workload. Event time advances `stepMs` per tail event,
  * so events per account per hour is 3600e3 / (stepMs * accounts); C1 alert
  * volume grows with the square of that figure. */
final case class CdcShape(accounts: Int, ratePerS: Int, stepMs: Long, lateFrac: Double,
                          maxLateEvents: Int, tickMs: Long)

/** One change event as the generator emits it. */
final case class Ev(idx: Int, user: Int, city: String, trx: String, cents: Long,
                    secs: Int, feature: String, tsMs: Long, op: String) {
  def json: String = {
    val ts = Ev.iso(tsMs)
    val amount = java.math.BigDecimal.valueOf(cents, 2).toPlainString
    s"""{"data":{"user_id":$user,"city":"$city","transaction_type":"$trx",""" +
      s""""monetary_value":$amount,"timeinapp":$secs,"feature_used":"$feature","ts":"$ts"},""" +
      s""""metadata":{"timestamp":"${ts.take(19)}Z","record-type":"data","operation":"$op",""" +
      s""""partition-key-type":"primary-key","schema-name":"workshopDb",""" +
      s""""table-name":"customeractivity","transaction-id":${idx.toLong + 1}}}"""
  }
  def activity: CustomerActivity = CustomerActivity(user, city, trx,
    java.math.BigDecimal.valueOf(cents, 2), secs.toShort, feature, new java.sql.Timestamp(tsMs))
}

object Ev {
  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)
  def iso(ms: Long): String = fmt.format(java.time.Instant.ofEpochMilli(ms))
}

/** The inputs of one run, drawn from the seed: a full load of one image per
  * account in one file, then a tail cut into files, one per generator tick. */
final case class CdcInputs(load: Array[Ev], tailFiles: Array[Array[Ev]]) {
  def all: Iterator[Ev] = load.iterator ++ tailFiles.iterator.flatten
  def tailCount: Int = tailFiles.map(_.length).sum
}

object CdcInputs {
  val loadBaseMs: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  val tailBaseMs: Long = loadBaseMs + 3600L * 1000

  /** Tail event i has event time tailBase + (i - late_i) * step + (i mod step):
    * distinct per event, increasing except for late events, which land
    * `late_i` (1..maxLateEvents) events back. Accounts are a seeded sample
    * of the reference's id range; tail keys are uniform over them. */
  def generate(seed: Long, shape: CdcShape, seconds: Int): CdcInputs = {
    val rnd = new java.util.SplittableRandom(seed)
    val range = (Schemas.idRangeEnd - Schemas.idRangeStart).toInt
    val ids = Array.tabulate(range)(i => (Schemas.idRangeStart + i).toInt)
    for (i <- 0 until shape.accounts) {
      val j = i + rnd.nextInt(range - i)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    def ev(idx: Int, user: Int, tsMs: Long, op: String): Ev = Ev(idx, user,
      Schemas.cityDomain(rnd.nextInt(Schemas.cityDomain.size)),
      graft.datagen.DataGen.generatorTrxTypes(rnd.nextInt(3)),
      10000L + rnd.nextLong(990001L), 100 + rnd.nextInt(81),
      Schemas.featureDomain(rnd.nextInt(Schemas.featureDomain.size)), tsMs, op)
    val load = Array.tabulate(shape.accounts)(k => ev(k, ids(k), loadBaseMs + k, "load"))
    val perFile = math.max(1, (shape.ratePerS * shape.tickMs / 1000).toInt)
    val nFiles = math.max(1, (seconds * 1000L / shape.tickMs).toInt)
    val tail = Array.tabulate(nFiles * perFile) { i =>
      val late = if (rnd.nextDouble() < shape.lateFrac) 1 + rnd.nextInt(shape.maxLateEvents) else 0
      ev(shape.accounts + i, ids(rnd.nextInt(shape.accounts)),
        tailBaseMs + (i - late).toLong * shape.stepMs + (i % shape.stepMs), "update")
    }
    CdcInputs(load, tail.grouped(perFile).toArray)
  }
}

/** One call of the merge sink, with the bucket directories it rewrote. */
final case class MergeCall(startMs: Long, endMs: Long, bucketsRewritten: Int, bytesWritten: Long)

/** The alerts one micro-batch delivered to an alert sink, and when. */
final case class AlertBatch(atMs: Long, rows: Array[Row])

/** The dataflow under test: one drop directory read by four streaming
  * queries (latest-state merge, lake sink, C3 freeze alerts, C1 city hop),
  * an open-loop generator writing it, and the checks of every output. */
final class CdcRun(spark: SparkSession, dir: File, tracer: Tracer,
                   progress: ProgressListener) {
  import spark.implicits._

  val drop = new File(dir, "drop")
  val statePath = new File(dir, "state").getPath
  val lakePath = new File(dir, "lake").getPath
  val silverPath = new File(dir, "silver").getPath
  private val ckpt = new File(dir, "ckpt")

  /** Per file sequence number: when it was due, when it became visible,
    * and its events. */
  val due = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val visible = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val fileEvents = new java.util.concurrent.ConcurrentHashMap[Int, Array[Ev]]()

  val mergeCalls = new java.util.concurrent.ConcurrentLinkedQueue[MergeCall]()
  val c1Alerts = new java.util.concurrent.ConcurrentLinkedQueue[AlertBatch]()
  val c3Alerts = new java.util.concurrent.ConcurrentLinkedQueue[AlertBatch]()
  var queries: Map[String, StreamingQuery] = Map.empty

  drop.mkdirs()

  /** Make one file of envelope lines visible: temp name, then atomic rename
    * (the file source skips names starting with '.'). */
  def publish(seq: Int, evs: Array[Ev], dueMs: Long): Unit = {
    val tmp = new File(drop, f".part-$seq%06d.json.tmp")
    Files.write(tmp.toPath, evs.iterator.map(_.json).toSeq.asJava, StandardCharsets.UTF_8)
    Files.move(tmp.toPath, new File(drop, f"part-$seq%06d.json").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    fileEvents.put(seq, evs)
    due.put(seq, dueMs)
    visible.put(seq, System.currentTimeMillis())
  }

  private def bucketFiles(): Map[String, Map[String, Long]] = {
    val root = new File(statePath)
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("bucket=")).map { b =>
        b.getName -> Option(b.listFiles()).getOrElse(Array.empty[File])
          .map(f => f.getName -> f.length()).toMap
      }.toMap
  }

  def start(): Unit = {
    val activity = CdcSource.activityStream(spark, drop.getPath)
    val merge = LatestState.foreachBatchMergeIncremental(spark, statePath)
    val qMerge = activity.writeStream.queryName("merge")
      .foreachBatch { (df: DataFrame, id: Long) =>
        val before = bucketFiles()
        val t0 = System.currentTimeMillis()
        tracer.span("merge.call")(merge(df, id))
        val t1 = System.currentTimeMillis()
        val after = bucketFiles()
        val changed = after.filter { case (b, fs) => !before.get(b).contains(fs) }
        mergeCalls.add(MergeCall(t0, t1, changed.size, changed.values.map(_.values.sum).sum)): Unit
      }
      .option("checkpointLocation", new File(ckpt, "merge").getPath)
      .trigger(Trigger.ProcessingTime(0L)).start()
    val qLake = StreamOps.lakeSink(activity, lakePath, new File(ckpt, "lake").getPath,
      Trigger.ProcessingTime(0L)).queryName("lake").start()
    val typed = activity.drop("operation").withWatermark("ts", "10 minutes")
    def alertSink(log: java.util.concurrent.ConcurrentLinkedQueue[AlertBatch], span: String) =
      (df: DataFrame, id: Long) => {
        val rows = tracer.span(span)(df.collect())
        log.add(AlertBatch(System.currentTimeMillis(), rows)): Unit
      }
    val qC3 = StatefulRules.freezeAlerts(typed.as[CustomerActivity]).toDF()
      .writeStream.queryName("c3").foreachBatch(alertSink(c3Alerts, "c3.sink"))
      .option("checkpointLocation", new File(ckpt, "c3").getPath)
      .trigger(Trigger.ProcessingTime(0L)).start()
    val qC1 = StatefulRules.cityHop(typed, typed)
      .writeStream.queryName("c1").foreachBatch(alertSink(c1Alerts, "c1.sink"))
      .option("checkpointLocation", new File(ckpt, "c1").getPath)
      .trigger(Trigger.ProcessingTime(0L)).start()
    queries = Map("merge" -> qMerge, "lake" -> qLake, "c3" -> qC3, "c1" -> qC1)
  }

  def drain(): Unit = queries.values.foreach(_.processAllAvailable())
  def stop(): Unit = queries.values.foreach { q => q.stop(); q.awaitTermination() }

  /** File sequence number → micro-batch id, from a query's source log. */
  def batchOfFile(query: String): Map[Int, Long] = {
    val log = new File(ckpt, s"$query/sources/0")
    val entry = """"path":"[^"]*part-(\d+)\.json"[^}]*"batchId":(\d+)""".r
    Option(log.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      entry.findAllMatchIn(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
        .map(m => m.group(1).toInt -> m.group(2).toLong)
    }.toMap
  }

  /** Micro-batch id → commit time (trigger start + trigger duration). */
  def commitMs(query: String): Map[Long, Long] =
    progress.of(query).map(b => b.batchId -> (b.startMs + b.durations.getOrElse("triggerExecution", 0L))).toMap

  /** The read side of the lake: compact the landed bronze JSON to silver,
    * then recompute the latest state and run the ten batch rules over it.
    * Returns each step's name and seconds, in order. */
  def lakeBatch(): Seq[(String, Double)] = {
    def step(name: String)(body: => Unit): (String, Double) =
      name -> Main.timed(tracer.span(name)(Main.inGroup(spark, name)(body)))._1
    val compact = step("silver")(Silver.compact(spark, lakePath, silverPath))
    val silver = Silver.read(spark, silverPath).select(Schemas.customerActivity.fieldNames.map(col).toSeq: _*)
    def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // Event times are distinct, so the operation only breaks ties that never occur.
    compact +: Seq(
      step("latest.batch")(run(LatestState.batch(silver.withColumn("operation", lit("update"))))),
      step("rule.c1")(run(BatchRules.cityHop(silver))),
      step("rule.c2")(run(BatchRules.overlappingSessions(silver))),
      step("rule.c3") { val (v, f) = BatchRules.overdraftFreeze(silver); run(v); run(f) },
      step("rule.c4")(run(BatchRules.firstForex(silver))),
      step("rule.c5")(run(BatchRules.upiLimitStreak(silver))),
      step("rule.p1")(run(BatchRules.enquiryIntent(silver))),
      step("rule.p2")(run(BatchRules.regularForex(silver))),
      step("rule.p3")(run(BatchRules.regularMfHighValue(silver))),
      step("rule.p4")(run(BatchRules.topCapitalInvestors(silver))),
      step("rule.p5")(run(BatchRules.pensionCrossSell(silver))))
  }

  // ------------------------------------------------------------- checks

  private def emittedDf(inputs: CdcInputs): DataFrame = {
    val rows = inputs.all.map(e => Row(e.user, e.city, e.trx,
      java.math.BigDecimal.valueOf(e.cents, 2), e.secs.toShort, e.feature,
      new java.sql.Timestamp(e.tsMs), e.op)).toSeq
    val schema = StructType(Schemas.customerActivity.fields :+ StructField("operation", StringType))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  /** Each check returns the number of mismatched rows (0 = correct). */
  def checks(inputs: CdcInputs): Seq[(String, Long)] = {
    val emitted = emittedDf(inputs).localCheckpoint()
    val cols = Schemas.customerActivity.fieldNames.toSeq.map(col)
    def diff(a: DataFrame, b: DataFrame): Long =
      a.select(cols: _*).exceptAll(b.select(cols: _*)).count() +
        b.select(cols: _*).exceptAll(a.select(cols: _*)).count()

    val state = diff(LatestState.readState(spark, statePath), LatestState.batch(emitted))
    val landed = spark.read.schema(Schemas.customerActivity).json(lakePath)
    val lake = diff(landed, emitted)
    val silver = diff(Silver.read(spark, silverPath), emitted)

    val c1Got = c1Alerts.asScala.toSeq.flatMap(_.rows.toSeq)
      .map(r => (r.getInt(0), r.getString(1), r.getTimestamp(2).getTime, r.getString(3), r.getTimestamp(4).getTime))
    val c1Want = BatchRules.cityHop(emitted).collect().toSeq
      .map(r => (r.getInt(0), r.getString(1), r.getTimestamp(2).getTime, r.getString(3), r.getTimestamp(4).getTime))
    val c1 = multisetDiff(c1Got, c1Want)

    // C3 is folded per key in arrival-batch order, then event-time order:
    // the ordering trade StatefulRules.freezeAlerts documents.
    val c3Batch = batchOfFile("c3")
    val arrivals = ((0 -> inputs.load) +: inputs.tailFiles.indices.map(s => (1 + s) -> inputs.tailFiles(s)))
      .flatMap { case (seq, evs) => evs.map(e => (c3Batch.getOrElse(seq, Long.MaxValue), e)) }
    val c3Want = arrivals.groupBy(_._2.user).toSeq.flatMap { case (user, evs) =>
      val ordered = evs.sortBy { case (b, e) => (b, e.tsMs, e.feature) }.map(_._2.activity)
      StatefulRules.applyEvents(user, ordered, StatefulRules.AccountState(0L, 0L))._2
        .map(a => (a.user_id, a.ts.getTime, a.kind, a.balanceCents, a.attemptedCents))
    }
    val c3Got = c3Alerts.asScala.toSeq.flatMap(_.rows.toSeq)
      .map(r => (r.getInt(0), r.getTimestamp(1).getTime, r.getString(2), r.getLong(3), r.getLong(4)))
    val c3 = multisetDiff(c3Got, c3Want)
    Seq("state" -> state, "lake" -> lake, "silver" -> silver, "c1" -> c1, "c3" -> c3)
  }

  private def multisetDiff[T](a: Seq[T], b: Seq[T]): Long = {
    val ca = a.groupBy(identity).map { case (k, v) => k -> v.size }
    val cb = b.groupBy(identity).map { case (k, v) => k -> v.size }
    (ca.keySet ++ cb.keySet).toSeq.map(k => math.abs(ca.getOrElse(k, 0) - cb.getOrElse(k, 0)).toLong).sum
  }
}
