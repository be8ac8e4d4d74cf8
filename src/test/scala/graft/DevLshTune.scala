package graft

import org.apache.spark.sql.SparkSession

import graft.index.LshAnn

/** Dev tool: grid-search the multi-table LSH operating point (tables ×
  * bits × probes) against exact top-k, driver-side on the collected
  * embeddings — prints recall / scanned-fraction per config so the
  * committed defaults ([[LshAnn.DefaultProbes]], the RecallSpec gate, the
  * `ann_lsh_topk` parameters) are measured, not guessed.
  *
  * Usage: runMain graft.DevLshTune [sfDir] [numQueries] [k]
  */
object DevLshTune {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val numQueries = if (args.length > 1) args(1).toInt else 20
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions.col
    val dim = graft.model.VectorModel.EmbDim
    val rows = graft.model.VectorModel.embeddings(spark, sfDir)
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val queries = (0 until numQueries).map { s =>
      graft.model.VectorModel.syntheticQuery(s).toArray
    }
    val exact = queries.map(q =>
      rows.sortBy { case (id, v) => (-graft.harness.Recall.cosine(q, v), id) }
        .take(k).map(_._1).toSet)
    val center = {
      val c = new Array[Double](dim)
      rows.foreach { case (_, v) => var i = 0; while (i < dim) { c(i) += v(i); i += 1 } }
      c.map(_ / rows.length)
    }
    // ---- adaptive sweep at the committed operating point ----------------
    // The LshAnn.Adaptive walk stops at overscan·k candidate mass: sweep
    // overscan and report recall / scanned / mean probes-per-table, against
    // the LshAnn.Directed rows below — the calibration behind
    // LshAnn.DefaultOverscan.
    {
      val model = LshAnn.tables(LshAnn.DefaultTables, LshAnn.DefaultBits, dim, center)
      val l = LshAnn.DefaultTables
      val buckets = Array.tabulate(l) { t =>
        rows.map { case (_, v) =>
          model.planes(t).zipWithIndex.map { case (p, b) =>
            var d = 0.0; var i = 0
            while (i < dim) { d += p(i) * v(i); i += 1 }
            if (d > model.biases(t)(b)) 1 << b else 0
          }.sum
        }
      }
      val sizes = Array.fill(l)(new Array[Long](1 << model.numBits))
      (0 until l).foreach(t => buckets(t).foreach(b => sizes(t)(b) += 1))
      for (overscan <- Seq(13, 20, 25, 28, 30, 33, 35, 40, 45, 50)) {
        val (recalls, fracs, nprobes) = queries.zipWithIndex.map { case (q, qi) =>
          val sets = LshAnn.probeSets(model, LshAnn.Adaptive(sizes, overscan),
            q.toSeq, k)
          val probeSets = sets.map(_.toSet)
          val cand = rows.indices.filter(ri =>
            (0 until l).exists(t => probeSets(t)(buckets(t)(ri))))
          val candIds = cand.map(ri => rows(ri)._1).toSet
          val r = exact(qi).intersect(candIds).size.toDouble / exact(qi).size
          (r, cand.size.toDouble / rows.length, sets.map(_.size).sum.toDouble / l)
        }.unzip3
        val mr = recalls.sum / recalls.size
        val mf = fracs.sum / fracs.size
        val mp = nprobes.sum / nprobes.size
        println(f"ADAPTIVE overscan=$overscan%4d (mass=${overscan * k}%6d) " +
          f"recall=$mr%.3f scanned=$mf%.3f mean_probes_per_table=$mp%.1f")
      }
    }

    for {
      l <- Seq(2, 3, 4, 6)
      bits <- Seq(8, 10, 12)
      probes <- Seq(10, 20, 40, 80, 96, 120)
    } {
      val model = LshAnn.tables(l, bits, dim, center)
      // per-table bucket of every row, driver-side
      val buckets = Array.tabulate(l) { t =>
        rows.map { case (_, v) =>
          model.planes(t).zipWithIndex.map { case (p, b) =>
            var d = 0.0; var i = 0
            while (i < dim) { d += p(i) * v(i); i += 1 }
            if (d > model.biases(t)(b)) 1 << b else 0
          }.sum
        }
      }
      val (recalls, fracs) = queries.zipWithIndex.map { case (q, qi) =>
        val probeSets = LshAnn.probeSets(model, LshAnn.Directed(probes), q.toSeq, k)
          .map(_.toSet)
        val cand = rows.indices.filter(ri =>
          (0 until l).exists(t => probeSets(t)(buckets(t)(ri))))
        val candIds = cand.map(ri => rows(ri)._1).toSet
        val r = exact(qi).intersect(candIds).size.toDouble / exact(qi).size
        (r, cand.size.toDouble / rows.length)
      }.unzip
      val mr = recalls.sum / recalls.size
      val mf = fracs.sum / fracs.size
      println(f"L=$l%d bits=$bits%2d probes=$probes%3d recall=$mr%.3f scanned=$mf%.3f")
    }
    spark.stop()
  }
}
