package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Dev scratch tool: the embeddings-corpus IVF operating-point sweep —
  * recall@k and scanned fraction of the FIXED max(k/2, 8)-probe rule vs
  * the ADAPTIVE candidate-mass walk across overscan budgets, over the
  * RecallBench query set. Decides whether flipping ann_ivf_topk's default
  * to the adaptive walk is a measured win (the round-14 task-5 question).
  * Run: sbt "Test/runMain graft.DevIvfEmbSweep [sfDir] [queries] [k]". */
object DevIvfEmbSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val numQueries = if (args.length > 1) args(1).toInt else 20
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.index.Ivf
    import graft.model.VectorModel
    import graft.search.VectorSearch
    import graft.harness.Recall

    val data = VectorModel.embeddings(spark, sfDir)
      .withColumn("embedding", col("embedding").cast("array<double>")).cache()
    val total = data.count().toDouble
    val queries = (0 until numQueries).map(VectorModel.syntheticQuery)
    val (assigned, model) = Ivf.fit(data, vecCol = "embedding", idCol = "vec_id")
    assigned.cache().count()
    val sizes = Ivf.clusterSizes(assigned)

    def recallOf(mk: Seq[Double] => org.apache.spark.sql.DataFrame): (Double, Double) = {
      val rs = queries.map { q =>
        val exact = VectorSearch.bruteForceTopK(data, q, k,
          vecCol = "embedding", idCol = "vec_id")
        Recall.recallAtK(exact, mk(q), "vec_id")
      }
      (rs.sum / rs.size, 0.0)
    }
    def scannedOf(probesOf: Seq[Double] => Seq[Int]): Double =
      queries.map(q => probesOf(q).map(c => sizes.getOrElse(c, 0L)).sum / total)
        .sum / queries.size

    val fixed = Ivf.defaultRule(model)
    val (rFixed, _) = recallOf(q =>
      Ivf.search(assigned, model, q, k, fixed, vecCol = "embedding", idCol = "vec_id"))
    println(f"DEVIVF fixed $fixed recall=$rFixed%.4f " +
      f"scanned=${scannedOf(q => fixed.probes(model, q, k))}%.4f")

    Seq(8, 16, 24, 32, 48, 64, 96).foreach { overscan =>
      val rule = Ivf.Adaptive(sizes, overscan)
      val (r, _) = recallOf(q =>
        Ivf.search(assigned, model, q, k, rule, vecCol = "embedding", idCol = "vec_id"))
      val probes = queries.map(q => rule.probes(model, q, k).size)
      println(f"DEVIVF adaptive overscan=$overscan recall=$r%.4f " +
        f"scanned=${scannedOf(q => rule.probes(model, q, k))}%.4f " +
        f"meanProbes=${probes.sum.toDouble / probes.size}%.2f")
    }
    spark.stop()
  }
}
