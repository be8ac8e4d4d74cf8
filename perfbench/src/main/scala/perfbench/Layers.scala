package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Span

/** Per-layer readings of a traced run, derived from its spans. */
object Layers {
  /** Facade and module calls that get `api.<op>.ms` / `.self_ms`. */
  val ApiOps = Seq("bruteForceSearch", "ivfSearch", "hnswSearch", "insert", "update", "delete",
    "maintainIndexes", "batchInsert", "save", "buildIvfIndex", "buildHnswIndex", "load",
    "batchSearchDf")
  val SparkCounts = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_ms",
    "spark.task_cpu_ms", "spark.gc_ms", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.input_rows", "spark.plan_ms", "spark.codegen_compiles",
    "spark.codegen_ms")

  /** Every per-layer metric a traced run can report, in order. */
  val Names: Seq[String] =
    ApiOps.flatMap(op => Seq(s"api.$op.ms", s"api.$op.self_ms")) ++ Seq(
      "api.plan_nodes",
      "index.ivf.probes_per_query", "index.ivf.rows_scanned_per_result",
      "index.hnsw.shards_probed_per_query", "index.ivf.build_ms", "index.hnsw.build_ms",
      "store.bytes_written", "store.files_written", "store.cached_bytes",
      "search.rows_scored_per_result", "functions.cpu_ns_per_scored_row",
      "dedup.minhash_ms", "dedup.candidates_ms", "dedup.components_ms",
      "dedup.candidate_pairs", "dedup.kept_pair_frac",
      "text.redact_ms", "text.quality_ms") ++ SparkCounts ++ Seq("spark.core_busy_frac")

  /** Job-covered milliseconds of an op span: the union of its jobs'
    * intervals, clipped to the span. */
  private def jobCoveredMs(op: Span, jobs: Seq[Span]): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, op.startMs), math.min(j.endMs, op.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }

  /** Per op name: calls, median wall ms, median self ms, jobs per call. */
  def opTable(spans: Seq[Span]): Map[String, Map[String, Double]] = {
    val jobsOf = spans.filter(_.kind == "job").groupBy(_.parent)
    spans.filter(s => s.kind == "op" && s.name != "untraced").groupBy(_.name).map {
      case (name, xs) =>
        val jobs = xs.map(s => jobsOf.getOrElse(s.id, Nil))
        name -> Map(
          "calls" -> xs.size.toDouble,
          "median_ms" -> Stats.median(xs.map(_.ms)),
          "median_self_ms" -> Stats.median(xs.zip(jobs).map { case (s, js) => s.ms - jobCoveredMs(s, js) }),
          "jobs_per_call" -> jobs.map(_.size).sum.toDouble / xs.size)
    }
  }

  /** The per-layer metrics the run measured. A layer the workload does not
    * touch is left out, not reported as 0 (see [[Names]] for the rest). */
  def summarise(spans: Seq[Span], run: Run, cores: Int, cachedBytes: Double): Map[String, Double] = {
    val jobsOf = spans.filter(_.kind == "job").groupBy(_.parent)
    val ops = spans.filter(s => s.kind == "op" && s.name != "untraced")
    val table = opTable(spans)
    /** An op span's counts plus those of its jobs. */
    def total(op: Span, key: String): Double =
      op.get(key) + jobsOf.getOrElse(op.id, Nil).map(_.get(key)).sum
    def named(name: String) = ops.filter(_.name == name)
    val out = mutable.LinkedHashMap.empty[String, Double]
    def medianMs(metric: String, name: String): Unit =
      table.get(name).foreach(t => out(metric) = t("median_ms"))
    ApiOps.foreach(op => table.get(op).foreach { t =>
      out(s"api.$op.ms") = t("median_ms")
      out(s"api.$op.self_ms") = t("median_self_ms")
    })
    medianMs("index.ivf.build_ms", "buildIvfIndex")
    medianMs("index.hnsw.build_ms", "buildHnswIndex")
    val hnsw = named("hnswSearch")
    if (hnsw.nonEmpty)
      out("index.hnsw.shards_probed_per_query") = hnsw.map(total(_, "plan.hnsw_partitions")).sum / hnsw.size
    val writers = ops.filter(s => Set("save", "buildIvfIndex", "buildHnswIndex")(s.name))
    if (writers.nonEmpty) {
      out("store.bytes_written") = writers.map(total(_, "spark.output_bytes")).sum / writers.size
      out("store.files_written") = writers.map(total(_, "plan.files_written")).sum / writers.size
    }
    out("store.cached_bytes") = cachedBytes
    val brute = named("bruteForceSearch")
    val rows = brute.map(total(_, "plan.scan_rows")).sum
    // only parquet and in-memory scans report rows; where brute force read
    // its table another way, both metrics are left out rather than read 0
    if (rows > 0) {
      out("search.rows_scored_per_result") = rows / brute.size / VectorWorkloads.K
      out("functions.cpu_ns_per_scored_row") = brute.map(total(_, "spark.task_cpu_ms")).sum * 1e6 / rows
    }
    medianMs("dedup.minhash_ms", "minhashSignatures")
    medianMs("dedup.candidates_ms", "lshCandidatePairs")
    medianMs("dedup.components_ms", "connectedComponents")
    medianMs("text.redact_ms", "Pii.redact")
    medianMs("text.quality_ms", "TextAnalysis.qualityScore")
    // engine counts are per timed call: the spans of the recorded calls
    val timed = ops.filter(s => run.latencies.contains(s.name))
    if (timed.nonEmpty) {
      SparkCounts.foreach(k => out(k) = timed.map(total(_, k)).sum / timed.size)
      val wall = timed.map(_.ms).sum
      if (wall > 0)
        out("spark.core_busy_frac") = timed.map(total(_, "spark.task_run_ms")).sum / (wall * cores)
    }
    run.layer.foreach { case (k, v) => out(k) = v }
    out.toMap
  }
}
