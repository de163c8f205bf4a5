package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import graft.cdc.Envelope
import org.apache.spark.sql.SparkSession

import perfbench.Main._

/** The CDC workload: a closed-loop full load, then an open-loop tail,
  * through the four streaming queries of CdcRun, then the lake batch. */
object Cdc {

  /** The reference's own 1,000-account slice (updateTables.py:56) with
    * 10% of tail events late, inside the watermark. The merge state is
    * tiny, so per-key rule state, the C1 stream-stream join and watermark
    * handling do most of the work. 5 s of event time per event keeps C1
    * alerts a minority of the output: about 0.7 events per account-hour. */
  val shape = CdcShape(accounts = 1000, ratePerS = 200, stepMs = 5000,
    lateFrac = 0.1, maxLateEvents = 60, tickMs = 100)

  /** Lateness (visible minus due) above which the generator, not the
    * system, set the pace: the run is then reported as failed. */
  val maxGenLateMs = 500.0

  def run(spark: SparkSession, args: Args, tracer: Tracer, jobs: JobGroupListener,
          progress: ProgressListener, out: Result): Unit = {

    // Set-up: draw the inputs three times (median reported), then warm the
    // whole pipeline once on a few small batches.
    val gens = (1 to 3).map(_ => timed(tracer.span("setup.gen")(
      CdcInputs.generate(args.seed, shape, args.seconds))))
    val inputs = gens.last._2
    val (warmS, _) = timed(tracer.span("setup.warm")(inGroup(spark, "warm") {
      val small = CdcInputs.generate(args.seed + 1, shape, 1)
      val w = new CdcRun(spark, new File(args.dir, "warm"), tracer, progress)
      w.start()
      w.publish(0, small.load, System.currentTimeMillis())
      w.drain()
      w.publish(1, small.tailFiles(0), System.currentTimeMillis())
      w.drain()
      w.stop()
      w.lakeBatch()
    }))
    progress.batches.clear()
    val setupS = Stats.median(gens.map(_._1)) + warmS
    log(f"setup ${setupS}%.2f s (warm $warmS%.2f s)")

    val r = new CdcRun(spark, new File(args.dir, "run"), tracer, progress)
    val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs
    r.start()
    val nLoad = 1

    // Closed loop: the full load is visible at once; its time runs to the
    // commit of the merge batch holding the last load file.
    val loadStart = System.currentTimeMillis()
    phase(tracer, "load") {
      r.publish(0, inputs.load, loadStart)
      r.queries("merge").processAllAvailable()
    }
    phase(tracer, "load.drain")(r.drain())
    if (args.loadOnly) {
      awaitProgress(r, progress)
      val loadS = (loadCommit(r, nLoad) - loadStart) / 1000.0
      r.stop()
      out.put("load_eps", inputs.load.length / loadS, "1/s")
      out.attempted = inputs.load.length
      return
    }

    // Open loop: one file per tick on a fixed schedule that never waits for
    // the consumers.
    val genLate = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val tailStart = System.currentTimeMillis() + 200
    val gen = new Thread(() => tracer.span("gen") {
      inputs.tailFiles.zipWithIndex.foreach { case (f, k) =>
        val dueMs = tailStart + k * shape.tickMs
        val wait = dueMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        r.publish(nLoad + k, f, dueMs)
        genLate.add((r.visible.get(nLoad + k) - dueMs).toDouble)
      }
    }, "perfbench-generator")
    phase(tracer, "tail") {
      gen.start()
      gen.join()
    }
    phase(tracer, "drain")(r.drain())
    awaitProgress(r, progress)
    phase(tracer, "stop")(r.stop())
    // The lake batch is idempotent (silver is overwritten per partition):
    // three runs, the one with the median total reported.
    val batchRuns = (1 to 3).map(i => phase(tracer, s"lake.batch.$i")(r.lakeBatch()))
    val batchSteps = batchRuns.sortBy(_.map(_._2).sum).apply(1)
    val gcMs = Jvm.gcMs - gc0; val jitMs = Jvm.jitMs - jit0

    // Latency of every tail event, from when its file was due to the commit
    // of the batch that held it, per query.
    def latencies(query: String): Seq[Double] = {
      val batchOf = r.batchOfFile(query)
      val commit = r.commitMs(query)
      (nLoad until nLoad + inputs.tailFiles.length).flatMap { seq =>
        val c = commit(batchOf(seq)).toDouble
        Seq.fill(inputs.tailFiles(seq - nLoad).length)(c - r.due.get(seq))
      }
    }
    val stateLat = latencies("merge")
    val lakeLat = latencies("lake")
    val loadS = (loadCommit(r, nLoad) - loadStart) / 1000.0

    // Alert latency: from the later contributing event's due time to the
    // alert reaching the sink. Alerts whose events are all in the full
    // load are not timed.
    val fileOf = new java.util.HashMap[(Int, Long), Int]()
    r.fileEvents.asScala.foreach { case (seq, evs) => evs.foreach(e => fileOf.put((e.user, e.tsMs), seq)) }
    def alertLat(log: java.util.Collection[AlertBatch], tsCols: Seq[Int]): Seq[Double] =
      log.asScala.toSeq.flatMap { b =>
        b.rows.toSeq.flatMap { row =>
          val seq = tsCols.map(c => fileOf.get((row.getInt(0), row.getTimestamp(c).getTime))).max
          if (seq >= nLoad) Some((b.atMs - r.due.get(seq)).toDouble) else None
        }
      }
    val alertLats = alertLat(r.c1Alerts, Seq(2, 4)) ++ alertLat(r.c3Alerts, Seq(1))

    val (checkS, checks) = timed(tracer.span("checks")(inGroup(spark, "checks")(r.checks(inputs))))
    log(s"checks ${checks.map { case (k, v) => s"$k=$v" }.mkString(" ")} (${"%.1f".format(checkS)} s)")
    val genLateP99 = Stats.pct(genLate.asScala, 99)
    val genInvalid = if (genLateP99 > maxGenLateMs) 1L else 0L
    out.attempted = inputs.load.length + inputs.tailCount
    out.failed = math.min(out.attempted, checks.map(_._2).sum + genInvalid)

    out.put("setup_s", setupS, "s")
    out.put("work_s", batchSteps.map(_._2).sum, "s")
    out.put("lat_p50_ms", Stats.pct(stateLat, 50), "ms")
    out.put("lat_p99_ms", Stats.pct(stateLat, 99), "ms")
    if (!args.trace) return

    // ------------------------------------------------ per-layer (traced run)
    val merges = r.mergeCalls.asScala.toSeq
    def prog(q: String) = progress.of(q).filter(_.inputRows > 0)
    def batchMs(q: String) = prog(q).map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val runIds = r.queries.map { case (n, q) => n -> q.runId.toString }
    out.groups = runIds.values.toSet
    def jobsPerBatch(q: String) = jobs.jobsPerBatch(runIds(q))

    out.put("gen.events", inputs.tailCount, "count")
    out.put("gen.late_p99_ms", genLateP99, "ms")
    out.put("load_eps", inputs.load.length / loadS, "1/s")
    out.put("tail_eps", inputs.tailCount / ((lastCommit(r, "merge") - tailStart) / 1000.0), "1/s")
    out.put("alert_lat_p50_ms", Stats.pct(alertLats, 50), "ms")
    out.put("alert_lat_p99_ms", Stats.pct(alertLats, 99), "ms")
    out.put("lake_lat_p50_ms", Stats.pct(lakeLat, 50), "ms")
    out.put("lake_lat_p99_ms", Stats.pct(lakeLat, 99), "ms")

    val mergeProg = prog("merge")
    out.put("source.backlog_max_events", backlogMax(r, nLoad, inputs), "count")
    out.put("source.batch_rows_p50", Stats.median(mergeProg.map(_.inputRows.toDouble)), "count")
    out.put("source.latest_offset_ms_p50",
      Stats.median(mergeProg.map(_.durations.getOrElse("latestOffset", 0L).toDouble)), "ms")
    out.put("source.get_batch_ms_p50",
      Stats.median(mergeProg.map(_.durations.getOrElse("getBatch", 0L).toDouble)), "ms")

    out.put("merge.ms_p50", Stats.median(merges.map(m => (m.endMs - m.startMs).toDouble)), "ms")
    out.put("merge.ms_p99", Stats.pct(merges.map(m => (m.endMs - m.startMs).toDouble), 99), "ms")
    out.put("merge.batches", merges.size, "count")
    out.put("merge.jobs_per_batch", jobsPerBatch("merge"), "count")
    out.put("merge.buckets_rewritten_p50", Stats.median(merges.map(_.bucketsRewritten.toDouble)), "count")
    out.put("merge.bytes_written", merges.map(_.bytesWritten).sum.toDouble, "bytes")
    out.put("state.rows", inputs.all.map(_.user).toSet.size, "count")
    out.put("state.bytes", dirBytes(new File(r.statePath)).toDouble, "bytes")

    for ((q, log) <- Seq("c1" -> r.c1Alerts, "c3" -> r.c3Alerts)) {
      val p = prog(q)
      out.put(s"$q.batch_ms_p50", Stats.median(batchMs(q)), "ms")
      out.put(s"$q.batch_ms_p99", Stats.pct(batchMs(q), 99), "ms")
      out.put(s"$q.state_rows", p.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count")
      out.put(s"$q.state_mem_bytes", p.lastOption.map(_.stateMemBytes.toDouble).getOrElse(0.0), "bytes")
      out.put(s"$q.alerts", log.asScala.map(_.rows.length).sum.toDouble, "count")
      out.put(s"$q.dropped_late_rows", progress.of(q).map(_.droppedLate).sum.toDouble, "count")
      out.put(s"$q.jobs_per_batch", jobsPerBatch(q), "count")
    }
    out.put("c1.alerts_per_event",
      r.c1Alerts.asScala.map(_.rows.length).sum.toDouble / (inputs.load.length + inputs.tailCount), "ratio")

    out.put("lake.batch_ms_p50", Stats.median(batchMs("lake")), "ms")
    out.put("lake.batch_ms_p99", Stats.pct(batchMs("lake"), 99), "ms")
    out.put("lake.files_written", dirFiles(new File(r.lakePath), _.getName.startsWith("part-")), "count")
    out.put("lake.bytes_written", dirBytes(new File(r.lakePath)).toDouble, "bytes")
    batchSteps.foreach { case (name, sec) =>
      out.put(if (name == "silver") "silver.s" else s"${name}_s", sec, "s")
    }
    out.put("silver.files_in", dirFiles(new File(r.lakePath), _.getName.startsWith("part-")), "count")
    out.put("silver.files_out", dirFiles(new File(r.silverPath), _.getName.startsWith("part-")), "count")
    out.put("jvm.rss_peak_mb", Jvm.peakRssMb, "MB")
    out.put("jvm.gc_ms", gcMs.toDouble, "ms")
    // Decode alone: the envelope layer over every line the run emitted, as
    // a batch job to a noop sink; median of three.
    val decodeS = (1 to 3).map(_ => timed(tracer.span("decode")(inGroup(spark, "decode") {
      Envelope.flatten(Envelope.selection(Envelope.decode(spark.read.text(r.drop.getPath))))
        .write.format("noop").mode("overwrite").save()
    }))._1)
    out.put("decode.eps", (inputs.load.length + inputs.tailCount) / Stats.median(decodeS), "1/s")
    out.put("jvm.jit_ms", jitMs.toDouble, "ms")
    out.put("check_s", checkS, "s")

    // Self time per layer: streaming engine overhead per query is its
    // trigger time minus the sink call (addBatch).
    for (q <- Seq("merge", "lake", "c1", "c3")) {
      val p = progress.of(q)
      out.put(s"self.$q.engine_ms", p.map(b => b.durations.getOrElse("triggerExecution", 0L) -
        b.durations.getOrElse("addBatch", 0L)).sum.toDouble, "ms")
      out.put(s"self.$q.sink_ms", p.map(_.durations.getOrElse("addBatch", 0L)).sum.toDouble, "ms")
    }
  }

  /** Wait until every query's progress reports have reached the listener. */
  private def awaitProgress(r: CdcRun, progress: ProgressListener): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def done = r.queries.forall { case (n, q) =>
      Option(q.lastProgress).forall(lp => progress.of(n).exists(_.batchId >= lp.batchId))
    }
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  private def loadCommit(r: CdcRun, nLoad: Int): Long = {
    val batchOf = r.batchOfFile("merge")
    val commit = r.commitMs("merge")
    (0 until nLoad).map(s => commit(batchOf(s))).max
  }

  private def lastCommit(r: CdcRun, query: String): Long = r.commitMs(query).values.max

  /** Largest number of visible tail events not yet committed to the latest
    * state, sampled at each merge commit. */
  private def backlogMax(r: CdcRun, nLoad: Int, inputs: CdcInputs): Double = {
    val batchOf = r.batchOfFile("merge")
    val commit = r.commitMs("merge")
    val files = (nLoad until nLoad + inputs.tailFiles.length).map { s =>
      (r.visible.get(s), commit(batchOf(s)), inputs.tailFiles(s - nLoad).length)
    }
    commit.values.toSeq.map { t =>
      files.filter { case (v, c, _) => v <= t && c > t }.map(_._3).sum.toDouble
    }.maxOption.getOrElse(0.0)
  }
}
