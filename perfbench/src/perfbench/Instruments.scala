package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Order statistics over a sample, reported the way the benchmark's docs
  * state them: nearest-rank percentiles. */
object Stats {
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
}

/** One traced interval; `parent` is 0 for a root span. */
final case class Span(id: Int, parent: Int, name: String, thread: String,
                      startNs: Long, endNs: Long)

/** Spans kept in memory and written once at the end of a traced run. A
  * span's self time is its duration minus the time its child spans cover;
  * children are the spans opened by the same thread while it was open. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  @volatile private var ownNs = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = synchronized { nextId += 1; nextId }
      val parent = open.get().headOption.getOrElse(0)
      open.set(id :: open.get())
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        open.set(open.get().tail)
        synchronized { spans += Span(id, parent, name, Thread.currentThread().getName, start, end) }
        ownNs += (System.nanoTime() - end) + (start - t0)
      }
    }

  /** Time the tracer itself spent, in ms (span bookkeeping only). */
  def overheadMs: Double = ownNs / 1e6

  /** Self time in ms per span name. */
  def selfMs: Map[String, Double] = synchronized {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent > 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)).toDouble).sum / 1e6
    }
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","thread":"${s.thread}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark work per job group: the benchmark sets one group per phase or
  * query, and a streaming query's jobs carry its run id as their group. */
final class JobGroupListener extends SparkListener {
  final class Counts {
    var jobs, stages, tasks, taskMs, shuffleRead, shuffleWrite, spill = 0L
  }
  private val groupOfStage = new ConcurrentHashMap[Int, String]()
  private val counts = mutable.Map.empty[String, Counts]
  private val batchJobs = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)

  private def of(g: String): Counts = counts.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(s => groupOfStage.put(s, g))
    val batch = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    synchronized {
      of(g).jobs += 1
      batch.foreach(b => batchJobs((g, b)) += 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = Option(groupOfStage.get(info.stageId)).getOrElse("none")
    val m = info.taskMetrics
    synchronized {
      val c = of(g)
      c.stages += 1
      c.tasks += info.numTasks
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot: Map[String, Counts] = synchronized { counts.toMap }

  def jobs(group: String): Long = synchronized { counts.get(group).map(_.jobs).getOrElse(0L) }

  /** Median jobs per micro-batch of a streaming query's run id: a count
    * that repeats exactly, unlike the number of batches. */
  def jobsPerBatch(group: String): Double = synchronized {
    Stats.median(batchJobs.collect { case ((g, _), n) if g == group => n.toDouble })
  }
}

/** One micro-batch as its progress report describes it. */
final case class BatchProgress(query: String, batchId: Long, startMs: Long,
                               durations: Map[String, Long], inputRows: Long,
                               stateRows: Long, stateMemBytes: Long, droppedLate: Long)

/** Collects streaming progress: durationMs breakdown, state-operator rows
  * and memory, and rows dropped behind the watermark. */
final class ProgressListener extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    batches.add(BatchProgress(
      Option(p.name).getOrElse(p.id.toString), p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.numRowsDroppedByWatermark).sum))
  }

  def of(query: String): Seq[BatchProgress] =
    batches.asScala.filter(_.query == query).toSeq.sortBy(_.batchId)
}

/** Process-level counters read from the JVM. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)

  /** Peak resident set size in MB (VmHWM); the peak committed heap where
    * /proc is not available. */
  def peakRssMb: Double = {
    val status = new java.io.File("/proc/self/status")
    val hwm =
      if (status.exists())
        scala.util.Using(scala.io.Source.fromFile(status))(_.getLines()
          .collectFirst { case l if l.startsWith("VmHWM:") =>
            l.split("\\s+")(1).toDouble / 1024.0 }).toOption.flatten
      else None
    hwm.getOrElse(ManagementFactory.getMemoryPoolMXBeans.asScala
      .map(_.getPeakUsage).filter(_ != null).map(_.getCommitted.toDouble).sum / 1048576.0)
  }
}
