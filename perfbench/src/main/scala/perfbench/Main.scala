package perfbench

import org.apache.spark.perfbench.Tracer
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Entry point of one benchmark run:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE`.
  * Writes one JSON document to FILE: the workload's own metrics, every
  * timed call's latency, op and failure counts, the JVM side of the
  * environment block and, when traced, the per-layer readings and the
  * per-layer metrics the workload does not touch; a traced
  * run also writes its spans to DIR/trace.json. */
object Main {

  /** Input sizes, fixed so every run of a workload does the same work.
    * Set-ups that take well under a second repeat more often, so their
    * median steadies. */
  val PointSize = VectorWorkloads.Size(n = 20000, setupReps = 2)
  val RwSize = VectorWorkloads.Size(n = 10000, setupReps = 3)
  val BulkSize = VectorWorkloads.Size(n = 10000, setupReps = 7)
  val BulkQueries = 1000
  val TextDocs = 10000

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val loadStart = loadAvg()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.scratch.dir", s"$work/scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val run = new Run(spark, seed, seconds, tracer, s"$work/data")
    try {
      workload match {
        case "ann_point" => VectorWorkloads.annPoint(run, PointSize)
        case "rw_mixed" => VectorWorkloads.rwMixed(run, RwSize)
        case "ann_bulk" => VectorWorkloads.annBulk(run, BulkSize, BulkQueries)
        case "curate_text" => TextWorkload.curateText(run, TextDocs, setupReps = 7)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val cachedBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      tracer.foreach(_.uninstall())
      val spans = tracer.toSeq.flatMap(_.spans)
      val layers: Map[String, Double] = if (trace) Layers.summarise(spans, run, cores, cachedBytes.toDouble) else Map.empty
      tracer.foreach(_ => write(s"$work/trace.json", spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "kind" -> s.kind,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "counts" -> s.counts))))
      write(opts("out"), Map(
        "workload" -> workload,
        "seed" -> seed,
        "trace" -> (if (trace) 1 else 0),
        "ops" -> run.ops,
        "ops_failed" -> run.opsFailed,
        "failures" -> run.failures,
        "metrics" -> run.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "end_to_end" -> run.endToEnd,
        "latencies_ms" -> run.latencies,
        "recalls" -> run.recalls,
        "layers" -> layers,
        "layers_not_measured" -> (if (trace) Layers.Names.filterNot(layers.contains) else Nil),
        "op_spans" -> Layers.opTable(spans),
        "env" -> Map(
          "nproc" -> cores,
          "spark_master" -> spark.sparkContext.master,
          "spark_version" -> spark.version,
          "max_heap_bytes" -> Runtime.getRuntime.maxMemory(),
          "jvm_loadavg_start" -> loadStart,
          "jvm_loadavg_end" -> loadAvg())))
    } finally spark.stop()
  }

  private def write(path: String, doc: AnyRef): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(Serialization.write(doc)(DefaultFormats)) finally w.close()
  }

  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }
}
