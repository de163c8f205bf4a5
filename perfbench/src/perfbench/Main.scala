package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point. Usage:
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <work dir>
  *     [--data <dir>] [--load-only 1] [--pin 1]
  * Prints progress to stderr and, as the last line of stdout, one JSON
  * object: {"correct", "attempted", "failed", "metrics"}. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        dir: File, data: File, loadOnly: Boolean, pin: Boolean)

  /** What a workload hands back: metrics by name with their unit, and its
    * operation counts. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    /** Job groups of the measured region, for the Spark counters. */
    var groups = Set.empty[String]
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      new File(m("dir")), new File(m.getOrElse("data", ".")),
      m.getOrElse("load-only", "0") == "1", m.getOrElse("pin", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    args.dir.mkdirs()
    val spark = graft.GraftSession.build("perfbench")
    val tracer = new Tracer(args.trace)
    val jobs = new JobGroupListener
    val progress = new ProgressListener
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(progress)
    val result = new Result
    val ok =
      try {
        args.workload match {
          case "cdc_hot_late" =>
            Cdc.run(spark, args, tracer, jobs, progress, result)
          case "llm_curation" =>
            Llm.run(spark, args, tracer, jobs, result)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        true
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          false
      }
    if (args.trace) {
      val j = jobs.snapshot.filter { case (g, _) => result.groups.contains(g) }.values
      result.put("spark.jobs", j.map(_.jobs).sum.toDouble, "count")
      result.put("spark.stages", j.map(_.stages).sum.toDouble, "count")
      result.put("spark.tasks", j.map(_.tasks).sum.toDouble, "count")
      result.put("spark.task_ms", j.map(_.taskMs).sum.toDouble, "ms")
      result.put("spark.shuffle_read_bytes", j.map(_.shuffleRead).sum.toDouble, "bytes")
      result.put("spark.shuffle_write_bytes", j.map(_.shuffleWrite).sum.toDouble, "bytes")
      result.put("spark.spill_bytes", j.map(_.spill).sum.toDouble, "bytes")
      result.put("trace.overhead_ms", tracer.overheadMs, "ms")
      log("self time per span (ms): " + tracer.selfMs.toSeq.sortBy(-_._2)
        .map { case (n, ms) => f"$n=$ms%.0f" }.mkString(" "))
      tracer.write(new File(args.dir, "spans.jsonl").toPath)
    }
    spark.stop()
    if (!ok) sys.exit(3)
    println(json(result))
  }

  def json(r: Result): String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString
    val ms = r.metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${r.failed == 0}, "attempted": ${math.max(1L, r.attempted)}, """ +
      s""""failed": ${r.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** Seconds taken by `body`, and its value. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = body
    ((System.nanoTime() - t0) / 1e9, v)
  }

  /** A span that also logs its duration to stderr. */
  def phase[T](tracer: Tracer, name: String)(body: => T): T = {
    val (s, v) = timed(tracer.span(name)(body))
    log(f"$name%s $s%.2f s")
    v
  }

  /** Set the job group of the calling thread, so the listener books the
    * jobs of `body` under `group`. */
  def inGroup[T](spark: SparkSession, group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(dirBytes).sum
    else f.length()

  def dirFiles(f: File, pred: File => Boolean): Int =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(dirFiles(_, pred)).sum
    else if (pred(f)) 1 else 0
}
