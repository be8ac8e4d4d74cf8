package org.apache.spark.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. An `op` span wraps one facade or module call made
  * by the benchmark; a `job` span is a Spark job the listener saw while an
  * op span was open, and has that op span as its parent. Times are epoch
  * milliseconds (the clock Spark's listener events carry), so job
  * intervals can be laid over their op span. */
final class Span(val id: Int, val name: String, val parent: Int, val kind: String) {
  var startMs: Double = 0.0
  var endMs: Double = 0.0
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def add(key: String, v: Double): Unit = counts(key) = counts.getOrElse(key, 0.0) + v
  def get(key: String): Double = counts.getOrElse(key, 0.0)
  def ms: Double = endMs - startMs
}

/** The traced run's span recorder: a [[SparkListener]] for jobs, stages and
  * tasks plus a [[QueryExecutionListener]] for planning phases and plan
  * metrics. Each job is tagged with the open op span through the local
  * property [[SpanProperty]]. Listener events arrive asynchronously, so
  * every span drains the listener bus when it opens and when it closes:
  * each event is then handled while the span that caused it is the open
  * one. Spans stay in memory until the run writes them out. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  /** Span that owns events arriving while no op span is open. */
  private val root = newSpan("untraced", -1, "op")
  @volatile private var open: Span = root
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageSpans = mutable.Map.empty[Int, Span]

  private def newSpan(name: String, parent: Int, kind: String): Span = synchronized {
    val s = new Span(spans.size, name, parent, kind)
    spans += s
    s
  }

  def install(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    drain()
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  private def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  /** Run `body` inside a new op span. */
  def span[T](name: String)(body: => T): T = {
    drain()
    val s = newSpan(name, -1, "op")
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    open = s
    sc.setLocalProperty(SpanProperty, s.id.toString)
    s.startMs = nowMs()
    try body
    finally {
      s.endMs = nowMs()
      drain()
      sc.setLocalProperty(SpanProperty, null)
      open = root
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      s.add("spark.codegen_compiles", compiles.toDouble)
      // the compile-time histogram keeps a sample, not a sum, so the
      // span's compile time is its compile count times the sampled mean
      s.add("spark.codegen_ms",
        compiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean)
    }
  }

  private def spanOfJobProps(props: java.util.Properties): Span = synchronized {
    val tag = Option(props).flatMap(p => Option(p.getProperty(SpanProperty)))
    tag.map(t => spans(t.toInt)).getOrElse(root)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val owner = spanOfJobProps(e.properties)
    val js = newSpan(s"job ${e.jobId}", owner.id, "job")
    js.startMs = e.time.toDouble
    synchronized {
      jobSpans(e.jobId) = js
      e.stageIds.foreach(stageSpans(_) = js)
    }
    js.add("spark.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpans.get(e.stageInfo.stageId).foreach(_.add("spark.stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val js = synchronized(stageSpans.get(e.stageId))
    val m = e.taskMetrics
    if (js.isDefined && m != null) {
      val s = js.get
      s.add("spark.tasks", 1)
      s.add("spark.task_run_ms", m.executorRunTime.toDouble)
      s.add("spark.task_cpu_ms", m.executorCpuTime / 1e6)
      s.add("spark.gc_ms", m.jvmGCTime.toDouble)
      s.add("spark.shuffle_read_bytes",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      s.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      s.add("spark.input_rows", m.inputMetrics.recordsRead.toDouble)
      s.add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = open
    s.add("spark.plan_ms", qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
    planNodes(qe.executedPlan).foreach {
      case f: FileSourceScanExec =>
        s.add("plan.scan_rows", metric(f, "numOutputRows"))
        // the facade keeps every HNSW graph layout under a directory
        // named for it; its partitions are the graph shards
        if (f.relation.location.rootPaths.exists(_.toString.contains("hnsw")))
          s.add("plan.hnsw_partitions", metric(f, "numPartitions"))
      case c: InMemoryTableScanExec =>
        s.add("plan.scan_rows", metric(c, "numOutputRows"))
      case w: DataWritingCommandExec =>
        s.add("plan.files_written", w.cmd.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0))
      case _ =>
    }
  }

  // abstract in the listener trait; the layers read nothing from failed queries
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val SpanProperty = "perfbench.span"

  def nowMs(): Double = System.currentTimeMillis().toDouble

  private val helper = new AdaptiveSparkPlanHelper {}

  /** Every node of a physical plan, through adaptive query stages. */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] = helper.collect(plan) { case p => p }

  private def metric(p: SparkPlan, key: String): Double =
    p.metrics.get(key).map(_.value.toDouble).getOrElse(0.0)
}
