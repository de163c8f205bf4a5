package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import perfbench.Main._

/** llm_curation: passes over a fixed list of declared LLM-curation queries
  * on the corpus shipped in data/llm, each output checked against a hash
  * pinned from a run that matched the DuckDB oracle (pin_llm.py). */
object Llm {

  /** Two single-pass controls, then one query per iterative or
    * candidate-then-verify operator family. */
  val queries: Seq[String] = Seq(
    "l01_exact_dedup", "l09_token_counts",
    "l16_dedup_clusters", "l82_band_config_sweep", "l125_image_dedup_apply",
    "l37_ann_ivf_trained", "l129_unigram_train")

  /** Order-independent digest of a result: rows rendered, sorted, hashed. */
  def digest(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes(StandardCharsets.UTF_8)))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  def pins(file: File): Map[String, String] =
    if (!file.exists()) Map.empty
    else """"([a-z0-9_]+)"\s*:\s*"([0-9a-f]{64})"""".r
      .findAllMatchIn(new String(Files.readAllBytes(file.toPath), StandardCharsets.UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap

  def run(spark: SparkSession, args: Args, tracer: Tracer, jobs: JobGroupListener,
          out: Result): Unit = {
    val data = args.data.getPath
    val build = graft.SparkEntry.queries
    val pinned = pins(new File(args.data, "pins.json"))

    // Set-up: read the corpus three times (median reported), then one
    // untimed warm pass over the whole list.
    val reads = (1 to 3).map(_ => timed(tracer.span("setup.read") {
      Seq("documents", "embeddings").map(t => graft.Tables.load(spark, data, t).count()).sum
    })._1)
    val (warmS, _) = timed(tracer.span("setup.warm")(inGroup(spark, "warm") {
      queries.foreach(q => build(q)(spark, data).collect())
    }))
    val setupS = Stats.median(reads) + warmS
    log(f"setup $setupS%.2f s (warm $warmS%.2f s)")

    val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs
    val perQuery = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val done = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val digests = scala.collection.mutable.Map.empty[String, (Long, String)]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // At least one pass; another only while it is expected to fit.
    while (passes.isEmpty || elapsed + passes.sum / passes.size <= args.seconds) {
      val (passS, _) = timed(tracer.span("pass") {
        val passStart = System.nanoTime()
        queries.foreach { q =>
          val (s, d) = timed(tracer.span(s"q.$q")(inGroup(spark, q)(digest(build(q)(spark, data)))))
          perQuery += q -> s
          done += (System.nanoTime() - passStart) / 1e6
          digests(q) = d
        }
      })
      passes += passS
    }
    val gcMs = Jvm.gcMs - gc0; val jitMs = Jvm.jitMs - jit0
    log(perQuery.map { case (q, s) => f"$q=$s%.2f" }.mkString("query s: ", " ", ""))

    if (args.pin) {
      // Outputs and oracle SQL for pin_llm.py's DuckDB comparison.
      val oracle = graft.SparkEntry.oracleSql
      queries.foreach(q => build(q)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(new File(args.dir, s"out/$q").getPath))
      val js = queries.map(q => s""""$q": {"rows": ${digests(q)._1}, "sha256": "${digests(q)._2}", """ +
        s""""oracle": ${quote(oracle(q))}}""")
      Files.writeString(new File(args.dir, "pin_candidates.json").toPath, js.mkString("{\n", ",\n", "\n}\n"))
    }

    val mismatched = queries.filterNot(q => pinned.get(q).contains(digests(q)._2))
    mismatched.foreach(q => log(s"MISMATCH $q: got ${digests(q)._2}, pinned ${pinned.getOrElse(q, "none")}"))
    out.attempted = perQuery.size
    out.failed = mismatched.size.toLong * passes.size

    out.put("setup_s", setupS, "s")
    out.put("work_s", Stats.median(passes), "s")
    // Each pass is one list of curation requests, all due at its start and
    // served in order: a request's latency runs to its own completion.
    out.put("lat_p50_ms", Stats.pct(done, 50), "ms")
    out.put("lat_p99_ms", Stats.pct(done, 99), "ms")
    if (!args.trace) return

    out.groups = queries.toSet
    queries.foreach { q =>
      out.put(s"q.${q}_s", Stats.median(perQuery.filter(_._1 == q).map(_._2)), "s")
      out.put(s"q.${q}_jobs", jobs.jobs(q).toDouble / passes.size, "count")
    }
    out.put("llm.passes", passes.size, "count")
    out.put("jvm.rss_peak_mb", Jvm.peakRssMb, "MB")
    out.put("jvm.gc_ms", gcMs.toDouble, "ms")
    out.put("jvm.jit_ms", jitMs.toDouble, "ms")
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
