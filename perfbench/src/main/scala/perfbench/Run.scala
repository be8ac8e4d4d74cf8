package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Tracer
import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the timed calls' latencies, the op and
  * failure counts, the run's own metrics, and the tracer when the run is
  * traced. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
    val tracer: Option[Tracer], val workDir: String) {

  /** Latencies in ms of every timed call, by call name. */
  val latencies: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  /** Recall@10 of every scored ANN answer, by call name. */
  val recalls: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  /** Metrics of the workload itself: name -> (value, unit). */
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  /** Workload-level per-layer readings that come from its own code. */
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  var ops = 0L
  var opsFailed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  private var deadlineNs = Long.MaxValue
  def startClock(): Unit = deadlineNs = System.nanoTime() + (seconds * 1e9).toLong
  def timeLeft: Boolean = System.nanoTime() < deadlineNs

  /** Run `body` in a span named `name` when traced. */
  def traced[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** One facade or module call, timed from outside (including whatever
    * materialises its result). `record = false` times it without keeping
    * the sample (warm-up). A thrown exception counts as a failed op and
    * yields None. */
  def call[T](name: String, record: Boolean = true)(body: => T): Option[T] = {
    ops += 1
    val t0 = System.nanoTime()
    try {
      // warm-up spans get their own name, so per-layer medians cover
      // only the recorded calls
      val r = traced(if (record) name else s"$name warm-up")(body)
      val ms = (System.nanoTime() - t0) / 1e6
      if (record) latencies.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
      Some(r)
    } catch {
      case e: Exception =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** A failed oracle check marks the op it checks as failed. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  private def fail(what: String): Unit = {
    opsFailed += 1
    if (failures.size < 20) failures += what
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def p50Metric(name: String, calls: Seq[String]): Unit = {
    val xs = calls.flatMap(c => latencies.getOrElse(c, Nil))
    if (xs.nonEmpty) metric(name, Stats.median(xs), "ms")
  }

  /** The highest percentile with at least ten samples beyond it, where the
    * run made enough calls: `name` is its latency, `name` with `_pct` for
    * `_ms` the percentile. */
  def tailMetric(name: String, calls: Seq[String]): Unit = {
    val xs = calls.flatMap(c => latencies.getOrElse(c, Nil)).sorted
    if (xs.size > 10) {
      metric(name, xs(xs.size - 11), "ms")
      metric(name.stripSuffix("_ms") + "_pct", 100.0 * (xs.size - 10) / xs.size, "%")
    }
  }

  /** Calls per second of busy time: the number of recorded calls over the
    * sum of their latencies, so work between calls (the benchmark's own
    * checks) does not count. */
  def callRate(calls: Seq[String]): Double = {
    val xs = calls.flatMap(c => latencies.getOrElse(c, Nil))
    xs.size / (xs.sum / 1e3)
  }

  /** The end-to-end metrics every workload reports: its set-up time, the
    * geometric mean of each call kind's median latency (so every call's
    * relative change counts fully, however fast the call is), its
    * throughput metric and the lowest of its quality metrics (so no
    * quality figure can hide a loss in another). */
  var endToEnd: Map[String, Double] = Map.empty

  def setEndToEnd(calls: Seq[String], throughput: String, quality: Seq[String]): Unit = {
    endToEnd = Map(
      "setup_s" -> metrics("setup_s")._1,
      "round_p50_ms" -> Stats.geomean(calls.map(c => Stats.median(latencies(c).toSeq))),
      "throughput" -> metrics(throughput)._1,
      "quality" -> quality.map(metrics(_)._1).min)
  }

  /** Wall seconds of `body`. */
  def wall[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}
