package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.HnswStore
import graft.model.VectorModel
import graft.search.VectorSearch

/** Dev probe: does the centroid-routing signal survive shard growth?
  *
  * The serving operating point (`hnswRoutedLayout`) is 16 shards with 4
  * probed — but 16 shards is the sf0.1 toy range. At 100 TB a routed
  * layout runs hundreds of shards, and the design only holds if probing a
  * FIXED top-p of a GROWING shard count keeps recall: that is the claim
  * this sweep measures, on the largest local corpus (the ~600k-row sf0.1
  * lineitem vector view), numShards ∈ {16, 64} × probes ∈ {4, 8, 16}.
  *
  * Two recalls per cell, 20 structured queries each:
  *  - vs the EXACT brute-force top-k (end-to-end quality), and
  *  - vs the all-shards fan-out over the SAME layout (isolates routing
  *    loss from graph-approximation loss).
  *
  * Results are committed to RECALL.md. One JSON line per cell on stderr
  * (`SWEEP {...}`), one summary line on stdout.
  */
object DevRoutedSweep {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val numQueries = 20
    val k = 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val vecs = VectorModel.lineitemVectors(spark, sfDir).cache()
    val n = vecs.count()
    // the H2 harness's structured query family: clustered signal, the
    // regime centroid routing is for
    val queries = (0 until numQueries).map(s =>
      Seq(25.0 + (s % 10), 30.0, 0.5, 0.5, 0.5, 0.5, 0.5, 1.0 + s))

    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    def recallVs(truth: Seq[Set[Long]], approx: Seq[Set[Long]]): Double =
      truth.zip(approx).map { case (e, a) =>
        if (e.isEmpty) 1.0 else e.intersect(a).size.toDouble / e.size
      }.sum / truth.size

    val exact = queries.map(q => ids(VectorSearch.bruteForceTopK(vecs, q, k)))

    val cells = for (numShards <- Seq(16, 64)) yield {
      val dir = graft.store.Fs.scratchDir(spark, s"graft_sweep_$numShards") + "/g"
      val t0 = System.nanoTime()
      HnswStore.saveRouted(vecs, dir, numShards = numShards)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val allShards = queries.map(q => ids(HnswStore.search(spark, dir, q, k)))
      val allRecall = recallVs(exact, allShards)
      for (probes <- Seq(4, 8, 16)) yield {
        val t1 = System.nanoTime()
        val routed = queries.map(q =>
          ids(HnswStore.search(spark, dir, q, k, HnswStore.Nearest(probes))))
        val msPerQuery = (System.nanoTime() - t1) / 1e6 / numQueries
        val cell =
          f"""{"num_shards":$numShards,"probes":$probes,""" +
            f""""scanned_fraction":${probes.toDouble / numShards}%.4f,""" +
            f""""recall_vs_exact":${recallVs(exact, routed)}%.4f,""" +
            f""""recall_vs_allshards":${recallVs(allShards, routed)}%.4f,""" +
            f""""allshards_recall_vs_exact":$allRecall%.4f,""" +
            f""""routed_ms_per_query":$msPerQuery%.1f,"build_sec":$buildSec%.1f}"""
        Console.err.println(s"SWEEP $cell")
        cell
      }
    }
    // ---- round 8: ADAPTIVE probing grid at the 64-shard operating point.
    // The margin walk (HnswStore.Adaptive) must hold the fixed-8 recall
    // at FEWER mean probed shards for some alpha — that alpha becomes
    // HnswStore.MarginBeta, and RecallSpec gates it at test scale.
    val dir64 = graft.store.Fs.scratchDir(spark, "graft_sweep_adapt") + "/g"
    HnswStore.saveRouted(vecs, dir64, numShards = 64)
    val stats64 = HnswStore.routedStats(spark, dir64)
    Console.err.println(f"SWEEP_RADIUS ${stats64.radius}%.5f")
    val all64 = queries.map(q => ids(HnswStore.search(spark, dir64, q, k)))
    val routing64 = new graft.functions.IvfKernel(HnswStore.readRouting(spark, dir64).get)
    val sizes64 = Array.tabulate(64)(c => stats64.sizes.getOrElse(c, 0L))
    val rule = HnswStore.Adaptive(stats64)
    val adaptCells = for (beta <- Seq(0.5, 1.0, 1.5, 2.0)) yield {
      // the Adaptive rule's walk at margin beta (the rule fixes
      // HnswStore.MarginBeta); its list is a prefix of the centroid
      // ranking, so Nearest(list size) searches exactly those shards
      val stop = graft.functions.ProbeStop(sizes64, rule.overscan.toLong * k,
        rule.minProbes, beta * stats64.radius, HnswStore.MaxAdaptiveProbes)
      val probeCounts = queries.map(q => routing64.probes(q.toArray, stop).length)
      val t1 = System.nanoTime()
      val routed = queries.zip(probeCounts).map { case (q, n) =>
        ids(HnswStore.search(spark, dir64, q, k, HnswStore.Nearest(n)))
      }
      val msPerQuery = (System.nanoTime() - t1) / 1e6 / numQueries
      val meanProbes = probeCounts.sum.toDouble / numQueries
      val cell =
        f"""{"num_shards":64,"margin_beta":$beta%.2f,""" +
          f""""shard_radius":${stats64.radius}%.5f,""" +
          f""""mean_probes":$meanProbes%.2f,""" +
          f""""scanned_fraction":${meanProbes / 64}%.4f,""" +
          f""""recall_vs_exact":${recallVs(exact, routed)}%.4f,""" +
          f""""recall_vs_allshards":${recallVs(all64, routed)}%.4f,""" +
          f""""routed_ms_per_query":$msPerQuery%.1f}"""
      Console.err.println(s"SWEEP_ADAPTIVE $cell")
      cell
    }
    println(s"""{"sf":"$sfDir","rows":$n,"queries":$numQueries,"k":$k,""" +
      s""""cells":[${cells.flatten.mkString(",")}],""" +
      s""""adaptive_cells":[${adaptCells.mkString(",")}]}""")
    spark.stop()
  }
}
