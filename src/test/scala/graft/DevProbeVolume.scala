package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measure the candidate volume (sum of probed cluster/shard/bucket row
  * counts over the registered entry's query set) of each big-batch ANN
  * family under its OLD fixed probe budget vs the ADAPTIVE walk that is
  * now the serving default — the number VERDICT r10 item 3 asks SCALE.md
  * to record. Driver-side over the same probe-set functions the codegen
  * kernels parity-gate against (BigBatchSpec), so the sets ARE the
  * kernels' sets.
  *
  * `Test/runMain graft.DevProbeVolume <sfDir>`
  */
object DevProbeVolume {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("DevProbeVolume")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.queries.ApproxQueries
    import graft.model.VectorModel

    def report(name: String, fixed: Seq[Long], adaptive: Seq[Long],
        corpus: Long, probesFixed: Seq[Int], probesAdaptive: Seq[Int]): Unit = {
      val nq = fixed.size
      val (fSum, aSum) = (fixed.sum, adaptive.sum)
      println(f"DEVVOL $name queries=$nq corpus=$corpus " +
        f"fixed_mass=$fSum (${fSum.toDouble / nq / corpus * 100}%.1f%%/q, " +
        f"mean probes ${probesFixed.sum.toDouble / nq}%.1f) " +
        f"adaptive_mass=$aSum (${aSum.toDouble / nq / corpus * 100}%.1f%%/q, " +
        f"mean probes ${probesAdaptive.sum.toDouble / nq}%.1f) " +
        f"reduction=${(1 - aSum.toDouble / fSum) * 100}%.1f%%")
    }

    // ---- IVF (vq_ivf_bigbatch): topK=3, overscan=16 default, minProbes=2;
    // old fixed operating point nProbes=2 of 16
    locally {
      val (_, model) = ApproxQueries.ivfLayout(spark, dir)
      val sizes = ApproxQueries.ivfSizes(spark, dir)
      val corpus = sizes.values.sum
      val qs = VectorModel.partQueriesBig(spark, dir, modulus = 64)
        .collect().map(r => r.getSeq[Double](1))
      val f = qs.map(q => graft.index.Ivf.Nearest(2).probes(model, q, 3))
      val a = qs.map(q => graft.index.Ivf.Adaptive(sizes, minProbes = 2).probes(model, q, 3))
      // getOrElse: the size maps only hold non-empty clusters, and a
      // fixed probe list can rank an empty one
      report("ivf", f.map(_.map(sizes.getOrElse(_, 0L)).sum).toSeq,
        a.map(_.map(sizes.getOrElse(_, 0L)).sum).toSeq,
        corpus, f.map(_.size).toSeq, a.map(_.size).toSeq)
    }

    // ---- routed HNSW (vq_hnsw_routed_bigbatch): topK=3; old fixed probes=4
    locally {
      val path = ApproxQueries.hnswRoutedLayout(spark, dir)
      val stats = ApproxQueries.routedStats(spark, dir)
      val corpus = stats.sizes.values.sum
      val qs = VectorModel.partQueriesBig(spark, dir)
        .collect().map(r => r.getSeq[Double](1))
      def probed(q: Seq[Double], rule: graft.index.HnswStore.ProbeRule) =
        graft.index.HnswStore.probedShards(spark, path, q, 3, rule).get
      val f = qs.map(probed(_, graft.index.HnswStore.Nearest(4)))
      val a = qs.map(probed(_, graft.index.HnswStore.Adaptive(stats)))
      report("hnsw_routed", f.map(_.map(stats.sizes.getOrElse(_, 0L)).sum).toSeq,
        a.map(_.map(stats.sizes.getOrElse(_, 0L)).sum).toSeq,
        corpus, f.map(_.size).toSeq, a.map(_.size).toSeq)
    }

    // ---- LSH (ann_lsh_bigbatch): topK=3, Adaptive(sizes, 234) (mass 702)
    // against Directed(DefaultProbes), the collected dispatch's ~0.8-recall
    // budget. Mass metric for both = sum of probed (table,bucket) row
    // counts (union overlap ignored identically on both sides).
    locally {
      val (path, model) = ApproxQueries.lshLayout(spark, dir)
      val sizes = ApproxQueries.lshSizes(spark, dir)
      val corpus = spark.read.parquet(path).count()
      val qs = VectorModel.embeddings(spark, dir)
        .where(pmod(col("vec_id"), lit(16)) === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0))
      def sets(rule: graft.index.LshAnn.ProbeRule) =
        qs.map(q => graft.index.LshAnn.probeSets(model, rule, q, 3))
      val a = sets(graft.index.LshAnn.Adaptive(sizes, 234))
      val fr = sets(graft.index.LshAnn.Directed(graft.index.LshAnn.DefaultProbes))
      def mass(sets: Seq[Seq[Int]]): Long =
        sets.zipWithIndex.map { case (s, t) =>
          s.map(b => if (b < sizes(t).length) sizes(t)(b) else 0L).sum
        }.sum
      report("lsh_vs_multiprobe", fr.map(mass).toSeq, a.map(s => mass(s)).toSeq,
        corpus, fr.map(_.map(_.size).sum).toSeq, a.map(_.map(_.size).sum).toSeq)
    }
    spark.stop()
  }
}
