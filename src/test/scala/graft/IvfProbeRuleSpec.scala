package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ModelExpressions
import graft.index.{HnswStore, Ivf}

/** Every IVF and routed-HNSW probe rule resolves through the one centroid
  * walk, [[graft.functions.IvfKernel.probes]]. This spec keeps the
  * driver-side walks that walk replaced (`rankedCentroids`,
  * `probeClusters`, `probeClustersAdaptive` and `probeClustersByMargin`,
  * below as they were) as the reference, and checks that each rule gives
  * the reference's probe list, in order, on seeded queries: from the
  * driver entry and from the `probe_clusters` expression in codegen and
  * interpreted mode. The centroids hold an exact duplicate pair and a zero
  * vector (similarity ties); the queries hold a zero-norm query, Inf, NaN
  * and overflowing components. */
class IvfProbeRuleSpec extends KernelModes {

  // ---- the reference walks --------------------------------------------

  private final class ReferenceWalks(centroids: Array[Array[Double]]) {

    /** Every centroid scored by cosine similarity to the query, best
      * first (ties to the lower index) — the one ranking both the fixed
      * and adaptive probe walks consume, so the scoring convention
      * (zero-norm → 0, tie-break) cannot silently diverge between them. */
    private def rankedCentroids(query: Seq[Double]): Array[(Double, Int)] = {
      def cos(c: Array[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < c.length) { dot += c(i) * query(i); na += c(i) * c(i); nb += query(i) * query(i); i += 1 }
        if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      }
      centroids.zipWithIndex
        .map { case (c, i) => (cos(c), i) }
        .sortBy { case (s, i) => (-s, i) }
    }

    /** Probe cluster ids: top-n centroids by cosine similarity to the query
      * (the reference scores centroids by cosine, `:438`). */
    def probeClusters(query: Seq[Double], nProbes: Int): Seq[Int] =
      rankedCentroids(query).take(nProbes).map(_._2).toSeq

    /** ADAPTIVE probe list: walk the centroids in similarity order and stop
      * once the probed clusters hold at least `minCandidates` rows. */
    def probeClustersAdaptive(query: Seq[Double], sizes: Map[Int, Long],
        minCandidates: Long, minProbes: Int = 3): Seq[Int] = {
      val ranked = probeClusters(query, centroids.length)
      val out = Seq.newBuilder[Int]
      var cum = 0L
      var i = 0
      while (i < ranked.length && (cum < minCandidates || i < minProbes)) {
        val cl = ranked(i)
        out += cl
        cum += sizes.getOrElse(cl, 0L)
        i += 1
      }
      out.result()
    }

    /** MARGIN-extended adaptive probe list — the routed-graph variant of
      * [[probeClustersAdaptive]]: keep probing while cumulative mass is
      * below `minCandidates` OR the shard's centroid cosine distance is
      * within `margin` of the best shard's. */
    def probeClustersByMargin(query: Seq[Double], sizes: Map[Int, Long],
        minCandidates: Long, margin: Double, minProbes: Int = 3,
        maxProbes: Int = Int.MaxValue): Seq[Int] = {
      val ranked = rankedCentroids(query)
      val bestDist = 1.0 - ranked.head._1
      val out = Seq.newBuilder[Int]
      var cum = 0L
      var i = 0
      while (i < ranked.length && i < maxProbes &&
          (cum < minCandidates || i < minProbes ||
            (1.0 - ranked(i)._1) <= bestDist + margin)) {
        val cl = ranked(i)._2
        out += cl
        cum += sizes.getOrElse(cl, 0L)
        i += 1
      }
      out.result()
    }
  }

  // ---- fixture --------------------------------------------------------

  private val Dim = 6

  /** 12 seeded centroids; 5 duplicates 2 (an exact similarity tie) and 9
    * is the zero vector (similarity 0 to every query). */
  private val centroids: Array[Array[Double]] = {
    val rng = new java.util.Random(20261020L)
    val cs = Array.fill(12)(Array.fill(Dim)(rng.nextGaussian()))
    cs(5) = cs(2).clone()
    cs(9) = new Array[Double](Dim)
    cs
  }
  private val model = Ivf.IvfModel(centroids)
  private val reference = new ReferenceWalks(centroids)

  /** Cluster 4 is absent (size 0 in the walk). */
  private val sizes: Map[Int, Long] =
    centroids.indices.filter(_ != 4).map(c => c -> (10L + 37L * c % 90)).toMap

  private val queries: Seq[Seq[Double]] = {
    val rng = new java.util.Random(7L)
    val seeded = (0 until 40).map(_ => Seq.fill(Dim)(rng.nextGaussian()))
    val special = Seq(
      Seq.fill(Dim)(0.0), // zero norm: every similarity 0
      centroids(2).toSeq, // on the duplicated centroid pair
      centroids(2).toSeq.map(-_),
      Double.PositiveInfinity +: Seq.fill(Dim - 1)(0.5), // NaN sims, zero centroid 0
      Double.NaN +: Seq.fill(Dim - 1)(0.5), // every similarity NaN
      Seq.fill(Dim)(Double.NegativeInfinity),
      Seq.fill(Dim)(1e200)) // the query norm overflows
    seeded ++ special
  }

  private val stats = HnswStore.RoutedStats(sizes, radius = 0.08)

  /** (name, top-k, the rule's driver-side probe list, its walk stop, the
    * reference list) for every rule case. */
  private def cases: Seq[(String, Int, Seq[Double] => Seq[Int],
      graft.functions.ProbeStop, Seq[Double] => Seq[Int])] = {
    def ivf(rule: Ivf.ProbeRule, k: Int, ref: Seq[Double] => Seq[Int]) =
      (s"Ivf.$rule at k=$k", k, (q: Seq[Double]) => rule.probes(model, q, k),
        rule.stop(model, k), ref)
    def hnsw(rule: HnswStore.ProbeRule, k: Int, ref: Seq[Double] => Seq[Int]) =
      (s"HnswStore.$rule at k=$k", k,
        (q: Seq[Double]) => rule.shards(model, q, k).get,
        rule.stop(model.k, k), ref)
    Seq(
      ivf(Ivf.Nearest(1), 10, reference.probeClusters(_, 1)),
      ivf(Ivf.Nearest(4), 10, reference.probeClusters(_, 4)),
      ivf(Ivf.defaultRule(model), 10, reference.probeClusters(_, 8)),
      ivf(Ivf.Nearest(12), 10, reference.probeClusters(_, 12)),
      ivf(Ivf.Nearest(30), 10, reference.probeClusters(_, 30)), // n > k
      ivf(Ivf.Adaptive(sizes), 10, reference.probeClustersAdaptive(_, sizes, 160L)),
      ivf(Ivf.Adaptive(sizes, 2, 1), 10, reference.probeClustersAdaptive(_, sizes, 20L, 1)),
      ivf(Ivf.Adaptive(sizes, 16, 2), 3, reference.probeClustersAdaptive(_, sizes, 48L, 2)),
      ivf(Ivf.Adaptive(Map.empty), 10,
        reference.probeClustersAdaptive(_, Map.empty, 160L)),
      hnsw(HnswStore.Nearest(3), 10, reference.probeClusters(_, 3)),
      hnsw(HnswStore.Adaptive(stats), 10,
        reference.probeClustersByMargin(_, sizes, 160L, HnswStore.MarginBeta * stats.radius,
          3, HnswStore.MaxAdaptiveProbes)),
      hnsw(HnswStore.Adaptive(stats, 1, 1), 3,
        reference.probeClustersByMargin(_, sizes, 3L, HnswStore.MarginBeta * stats.radius,
          1, HnswStore.MaxAdaptiveProbes)),
      hnsw(HnswStore.Adaptive(HnswStore.RoutedStats(sizes, 1.0), 1, 1), 3,
        reference.probeClustersByMargin(_, sizes, 3L, HnswStore.MarginBeta,
          1, HnswStore.MaxAdaptiveProbes)))
  }

  test("every rule's driver-side probe list equals the reference walk's, in order") {
    for ((name, _, probes, _, ref) <- cases; q <- queries)
      assert(probes(q) === ref(q), s"$name, query $q")
    for (q <- queries; n <- Seq(1, 8, 30))
      assert(model.probeClusters(q, n) === reference.probeClusters(q, n), s"probeClusters($n)")
    // AllShards probes every shard without reading the routing model
    for (q <- queries)
      assert(HnswStore.AllShards.shards(sys.error("routing read"), q, 10) === None)
    // and per row it walks every centroid in ranking order
    assert(HnswStore.AllShards.stop(model.k, 10) === graft.functions.ProbeStop.nearest(model.k))
  }

  test("the cases exercise the stops (not vacuous): list lengths vary within and across rules") {
    val lengths = cases.map { case (name, _, probes, _, _) =>
      name -> queries.map(probes(_).size).toSet
    }
    info(lengths.map { case (n, l) => s"$n: ${l.toSeq.sorted.mkString(",")}" }.mkString("; "))
    val byName = lengths.toMap
    assert(byName("Ivf.Nearest(30) at k=10") === Set(centroids.length))
    assert(lengths.count(_._2.size > 1) >= 3, lengths.toString)
    // a near tie lets the margin extend past the floor on some queries
    assert(byName(s"HnswStore.${HnswStore.Adaptive(stats, 1, 1)} at k=3").size > 1)
  }

  /** The queries as a 4-partition RDD frame: a local relation would be
    * evaluated at optimization time, bypassing codegen. */
  private def queryFrame: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(
      queries.zipWithIndex.map { case (q, i) => Row(i.toLong, q) }, 4),
    StructType(Seq(StructField("query_id", LongType, nullable = false),
      StructField("qvec", ArrayType(DoubleType, containsNull = false), nullable = false))))

  for ((mode, conf) <- Modes) {
    test(s"probe_clusters returns the reference walk's list per row ($mode)") {
      withConf(conf) {
        for ((name, _, _, stop, ref) <- cases) {
          val df = queryFrame.select(col("query_id"),
            ModelExpressions.probeClusters(col("qvec"), centroids, stop).as("probes"))
          val rows = run(mode, df)
          assert(rows.length === queries.length)
          for (r <- rows) {
            val q = queries(r.getLong(0).toInt)
            assert(r.getSeq[Int](1) === ref(q), s"$name, query $q")
          }
        }
      }
    }
  }

  test("a vector shorter than the model dimension fails loudly") {
    val e = intercept[IllegalArgumentException](
      Ivf.defaultRule(model).probes(model, Seq(1.0, 2.0), 10))
    assert(e.getMessage.contains("shorter than the model dimension"))
  }
}
