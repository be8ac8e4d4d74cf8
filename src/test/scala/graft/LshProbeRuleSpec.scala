package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.LshProbeExpressions
import graft.index.LshAnn
import graft.index.LshAnn.LshTables
import graft.model.VectorModel

/** Every [[LshAnn.ProbeRule]] resolves through the one probe walk,
  * [[graft.functions.LshProbeKernel]]. This spec keeps the driver-side walk
  * that walk replaced (`rankedBuckets` and `probeSetsAdaptive`, below as
  * they were) as the reference, beside the DuckDB `LshOracleSql` mirror,
  * and checks each rule's per-table probe sets against it on the Sf0001
  * layout, plus the `lsh_probe_sets` expression in codegen and interpreted
  * mode. */
class LshProbeRuleSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // ---- the reference walk ---------------------------------------------

  private val MaxBits = LshAnn.MaxBits
  private val MaxFlips = LshAnn.MaxFlips
  private val DefaultProbes = LshAnn.DefaultProbes

  /** The full cost-ranked bucket stream of one table: every ≤MaxFlips
    * flip mask of the query's bucket, ascending by the summed |margin| of
    * its flipped bits. The first entry is always the query's own bucket
    * (mask 0, cost 0). */
  private def rankedBuckets(query: Seq[Double], planes: Array[Array[Double]],
      biases: Array[Double]): IndexedSeq[(Double, Int)] = {
    require(planes.length <= MaxBits,
      s"numBits=${planes.length} exceeds MaxBits=$MaxBits — mask enumeration is 2^numBits")
    val margins = planes.zipWithIndex.map { case (p, b) =>
      var dot = 0.0; var i = 0
      while (i < p.length) { dot += p(i) * query(i); i += 1 }
      dot - biases(b)
    }
    val qb = margins.zipWithIndex.map { case (mg, b) => if (mg > 0) 1 << b else 0 }.sum
    (0 until (1 << planes.length))
      .filter(m => Integer.bitCount(m) <= MaxFlips)
      .map { m =>
        var cost = 0.0
        var b = 0
        while (b < planes.length) {
          if ((m & (1 << b)) != 0) cost += math.abs(margins(b))
          b += 1
        }
        (cost, m)
      }
      .sortBy { case (cost, m) => (cost, m) }
      .map { case (cost, m) => (cost, qb ^ m) }
  }

  /** Walk ALL tables' cost-ranked bucket streams in one merged
    * ascending-cost order and stop once the probed buckets' cumulative row
    * count reaches `minCandidates`; every table always probes its own
    * bucket. */
  private def probeSetsAdaptive(query: Seq[Double], model: LshTables,
      sizes: Map[(Int, Int), Long], minCandidates: Long,
      maxProbesPerTable: Int = DefaultProbes): IndexedSeq[Seq[Int]] = {
    val streams = model.planes.indices.map { t =>
      rankedBuckets(query, model.planes(t), model.biases(t))
        .take(maxProbesPerTable)
    }
    val merged = streams.zipWithIndex.flatMap { case (s, t) =>
      s.zipWithIndex.map { case ((c, b), r) => (c, r, t, b) }
    }.sortBy { case (c, _, t, b) => (c, t, b) }
    val out = Array.fill(model.numTables)(Vector.newBuilder[Int])
    var cum = 0L
    merged.foreach { case (_, r, t, b) =>
      if (r == 0 || cum < minCandidates) {
        out(t) += b
        cum += sizes.getOrElse((t, b), 0L)
      }
    }
    out.map(_.result()).toIndexedSeq
  }

  /** Fixed-budget probe sets: the `probes`-prefix of every table's stream. */
  private def probeSetsFixed(query: Seq[Double], model: LshTables,
      probes: Int): IndexedSeq[Seq[Int]] =
    model.planes.indices.map(t =>
      rankedBuckets(query, model.planes(t), model.biases(t)).take(probes).map(_._2))

  // ---- fixture --------------------------------------------------------

  private lazy val layout: (LshTables, Array[Array[Long]], Map[(Int, Int), Long]) = {
    val (path, model) = queries.ApproxQueries.lshLayout(spark, Sf0001)
    val frame = spark.read.parquet(path)
    val sizeMap = frame.groupBy(col(LshAnn.TableCol), col(LshAnn.BucketCol)).count()
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    (model, LshAnn.bucketSizes(frame), sizeMap)
  }

  /** 64 seeded queries: the synthetic query family plus seeded gaussian
    * vectors around it. */
  private lazy val queryVecs: Seq[Seq[Double]] = {
    val rng = new scala.util.Random(20261019L)
    (0 until 32).map(VectorModel.syntheticQuery) ++
      (0 until 32).map(s => VectorModel.syntheticQuery(s).map(_ + 0.05 * rng.nextGaussian()))
  }

  /** (rule name, rule, top-k, reference sets of one query). */
  private def cases: Seq[(String, LshAnn.ProbeRule, Int, Seq[Double] => IndexedSeq[Seq[Int]])] = {
    val (model, sizes, sizeMap) = layout
    def directed(p: Int) = (s"Directed($p)", LshAnn.Directed(p), 10,
      (q: Seq[Double]) => probeSetsFixed(q, model, p))
    def adaptive(overscan: Int, k: Int) = (s"Adaptive(sizes, $overscan) at k=$k",
      LshAnn.Adaptive(sizes, overscan), k,
      (q: Seq[Double]) => probeSetsAdaptive(q, model, sizeMap, overscan.toLong * k))
    // on this small layout the serving budgets (700 and 702 rows) reach
    // the per-table cap, so two mid budgets exercise the stop rule too
    Seq(directed(1), directed(12), directed(DefaultProbes),
      adaptive(1, 3), adaptive(10, 3), adaptive(50, 3),
      adaptive(LshAnn.DefaultOverscan, 20), adaptive(234, 3))
  }

  test("bucketSizes is the dense per-table form of the layout's (table, bucket) counts") {
    val (model, sizes, sizeMap) = layout
    assert(sizes.length === model.numTables)
    for (t <- sizes.indices; b <- sizes(t).indices)
      assert(sizes(t)(b) === sizeMap.getOrElse((t, b), 0L), s"table $t bucket $b")
    assert(sizeMap.keys.forall { case (t, b) => b < sizes(t).length })
  }

  test("every rule's per-table probe sets equal the reference walk's on 64 queries") {
    val (model, _, _) = layout
    for ((name, rule, k, reference) <- cases; q <- queryVecs) {
      val got = LshAnn.probeSets(model, rule, q, k)
      val want = reference(q)
      assert(got.length === model.numTables, name)
      rule match {
        // the walk returns each table's probes in merged-walk order, the
        // reference in per-table rank order: every consumer reads a set
        case LshAnn.Directed(_) =>
          assert(got.map(_.toSet) === want.map(_.toSet), name)
          assert(got.map(_.size) === want.map(_.size), s"$name: no repeats")
        case _: LshAnn.Adaptive => assert(got === want, name)
      }
    }
  }

  test("the adaptive stop rule cuts the walk between the directed extremes (the cases are not vacuous)") {
    val (model, _, _) = layout
    val volumes = cases.map { case (name, rule, k, _) =>
      name -> queryVecs.map(q => LshAnn.probeSets(model, rule, q, k).map(_.size).sum).sum
    }
    info(volumes.map { case (n, v) => s"$n: $v probes" }.mkString("; "))
    val v = volumes.toMap
    val ordered = Seq("Directed(1)", "Adaptive(sizes, 1) at k=3",
      "Adaptive(sizes, 10) at k=3", "Adaptive(sizes, 50) at k=3", s"Directed($DefaultProbes)")
    ordered.sliding(2).foreach { case Seq(a, b) => assert(v(a) < v(b), s"$a vs $b: $volumes") }
  }

  private val Codegen = "whole-stage codegen"
  private val Modes: Seq[(String, Seq[(String, String)])] = Seq(
    Codegen -> Seq(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[T](kv: Seq[(String, String)])(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** The queries as a 4-partition RDD frame: a local relation would be
    * evaluated at optimization time, bypassing codegen. */
  private def queryFrame: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(
      queryVecs.zipWithIndex.map { case (q, i) => Row(i.toLong, q) }, 4),
    StructType(Seq(StructField("query_id", LongType, nullable = false),
      StructField("qvec", ArrayType(DoubleType, containsNull = false), nullable = false))))

  for ((mode, conf) <- Modes) {
    test(s"lsh_probe_sets returns the driver walk's packed list ($mode)") {
      val (model, _, _) = layout
      withConf(conf) {
        for ((name, rule, k, _) <- cases) {
          val kernel = rule.kernel(model, k)
          val df = queryFrame.select(col("query_id"),
            LshProbeExpressions.probeSets(col("qvec"), kernel).as("probes"))
          val rows = df.collect()
          val plan = df.queryExecution.executedPlan
          assert(find(plan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined === (mode == Codegen),
            plan.treeString)
          assert(rows.length === queryVecs.length)
          for (r <- rows) {
            val q = queryVecs(r.getLong(0).toInt)
            assert(r.getSeq[Int](1) === kernel.probeSets(q.toArray).toSeq, name)
          }
        }
      }
    }
  }
}
