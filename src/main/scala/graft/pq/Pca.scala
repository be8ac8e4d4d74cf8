package graft.pq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PCA dimension reduction for two-stage vector search: project the corpus
  * once onto the top-[[R]] principal components (a quarter of the stored
  * floats), serve the coarse stage off the small projected layout, and
  * re-rank only a bounded candidate set against the full vectors — the
  * third compression family next to the codebook (PQ/OPQ) and affine
  * (SQ8/binary) codecs, and the one that preserves DISTANCE GEOMETRY
  * (an orthogonal projection's distances are exact within the kept
  * subspace) rather than per-dimension precision.
  *
  * Determinism contract (what makes the serve hash-gateable): the fit is
  * a pure driver-side function of the hash-ordered sample — covariance
  * accumulated in sorted-id row order, power iteration with deflation
  * from a FIXED pseudorandom start for a FIXED iteration count (no
  * convergence test, no data-dependent branching), each component's sign
  * canonicalized (largest-|coefficient| entry positive, lowest index on
  * ties). The model publishes as sidecars, and every serving sum —
  * projection, coarse L2, re-rank cosine — is a fixed left-associated
  * chain mirrorable term-for-term in SQL, the
  * [[graft.queries.OracleSql.cosineCols]] convention.
  *
  * Scale shape: fit touches a bounded sample ([[graft.index.Ivf.
  * FitSampleRows]] discipline) and one 64×64 covariance; the projection
  * is one codegen map pass writing the reduced layout (build-once); the
  * coarse stage scans [[R]] doubles per row instead of the full vector;
  * the re-rank is a broadcast join of a CONSTANT candidate count against
  * the id-keyed full vectors. At 100 TB the coarse scan is the only
  * full-corpus cost, at R/dim of the bytes. */
object Pca {

  /** Reduced dimensionality (64 → 16: 4× fewer bytes in the coarse scan). */
  val R = 16

  /** Power-iteration count per component — fixed, never adaptive (a
    * convergence test would make the model depend on float-comparison
    * outcomes; 60 iterations is far past convergence for any spectrum
    * this 64-dim fit sees). */
  val Iters = 60

  case class Model(mean: Array[Double], components: Array[Array[Double]])

  /** L2-normalize a vector with the zero-vector guard the projection
    * chain uses: norm accumulated LEFT-ASSOCIATED (v₀·v₀ + v₁·v₁ + …),
    * a zero norm divides by 1 (the zero vector stays zero) — sqrt is
    * IEEE-exact so both engines agree bit-for-bit, unlike ln/exp.
    * Normalizing FIRST is what makes the coarse subspace L2 monotone in
    * cosine (‖v̂−q̂‖² = 2−2·cos): without it the L2 stage ranks by a
    * different metric than the re-rank and recall collapses (measured
    * 0.5 → 0.95 on the corpus). */
  def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).reduceLeft(_ + _))
    val n1 = if (n == 0.0) 1.0 else n
    v.map(_ / n1)
  }

  /** Fit on the hash-ordered bounded sample (the [[graft.index.Ivf.fit]]
    * discipline), NORMALIZED like the serving chain: accumulate the
    * 64×64 covariance in sorted-id order, then extract [[R]] components
    * by power iteration with deflation — all O(dim²) driver work after
    * the one covariance pass. */
  def fit(df: DataFrame, vecCol: String, dim: Int, idCol: String,
      r: Int = R): Model = {
    require(r >= 1 && r <= dim, s"component count $r outside [1, $dim]")
    val sample = df
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .orderBy(hash(col(idCol)), col(idCol))
      .limit(graft.index.Ivf.FitSampleRows)
      .collect()
      .sortBy(_.getLong(0))
      .map(r => normalize(r.getSeq[Double](1).toArray))
    require(sample.nonEmpty, "PCA fit: empty sample")
    val n = sample.length
    val mean = Array.tabulate(dim)(i => sample.map(_(i)).sum / n)
    // covariance (unnormalized — scaling does not change eigenvectors),
    // accumulated row-by-row in the sorted deterministic order
    val cov = Array.ofDim[Double](dim, dim)
    sample.foreach { v =>
      val x = Array.tabulate(dim)(i => v(i) - mean(i))
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { cov(i)(j) += x(i) * x(j); j += 1 }
        i += 1
      }
    }
    val comps = Array.ofDim[Double](r, dim)
    for (ci <- 0 until comps.length) {
      // fixed pseudorandom start — a constant start can be orthogonal to
      // the target eigenvector; this one is reproducible and generic
      var v = Array.tabulate(dim)(i => ((i * 37 + ci * 17 + 5) % 101) / 101.0 - 0.5)
      for (_ <- 0 until Iters) {
        val w = Array.tabulate(dim)(i =>
          (0 until dim).map(j => cov(i)(j) * v(j)).sum)
        // deflate: remove the span of already-extracted components
        for (p <- 0 until ci) {
          val d = (0 until dim).map(i => w(i) * comps(p)(i)).sum
          for (i <- 0 until dim) w(i) -= d * comps(p)(i)
        }
        val norm = math.sqrt(w.map(x => x * x).sum)
        v = if (norm == 0.0) v else w.map(_ / norm)
      }
      // canonical sign: largest-|coeff| entry positive (lowest index wins ties)
      val lead = (0 until dim).maxBy(i => (math.abs(v(i)), -i))
      if (v(lead) < 0.0) v = v.map(-_)
      comps(ci) = v
    }
    Model(mean, comps)
  }

  /** All [[R]] projections of the NORMALIZED vector as one array Column —
    * the fused [[graft.functions.PcaKernel]] loop, bit-identical to the
    * SQL mirror's left-associated chains (norm, division, subtraction,
    * product, sum all in index order). One kernel, O(1) generated code:
    * the same chains spelled as 16 × 64-term Column expressions
    * overflowed janino's 64 KB method limit and dropped the projection
    * stage to interpreted evaluation. */
  def projectionsCol(vecCol: Column, m: Model): Column =
    graft.functions.ModelExpressions.pcaProject(vecCol, m.mean, m.components)

  /** The flat (p0..p{R−1}) projection columns off one shared
    * [[projectionsCol]] — expand via element_at; codegen subexpression
    * elimination evaluates the kernel once per row. */
  def projectionCols(vecCol: Column, m: Model): Seq[Column] = {
    val ps = projectionsCol(vecCol, m)
    m.components.indices.map(r => element_at(ps, r + 1).as(s"p$r"))
  }

  /** Driver-side projection of a query — normalized then the same
    * left-associated chain as [[projectExpr]], so engine and oracle agree
    * bit-for-bit. */
  def project(q: Seq[Double], m: Model): Array[Double] = {
    val qn = normalize(q.toArray)
    m.components.map(c =>
      c.indices.map(i => (qn(i) - m.mean(i)) * c(i)).reduceLeft(_ + _))
  }

  /** Coarse squared-L2 between the layout's p-columns and a projected
    * query, left-associated. */
  def coarseDistExpr(qp: Array[Double]): Column =
    qp.indices.map { r =>
      (col(s"p$r") - lit(qp(r))) * (col(s"p$r") - lit(qp(r)))
    }.reduceLeft(_ + _)

  /** Two-stage top-k: coarse (d2 asc, id asc) cut to `rerank` candidates
    * off the projected layout, exact-cosine re-rank against the full
    * vectors — the [[BinaryQuantizer.topK]] shape with an L2 subspace
    * stage instead of Hamming.
    *
    * The re-rank is a PRUNED fetch, not a join probe: the candidate set
    * is driver-bounded by construction (`LIMIT rerank`), so its ids
    * collect and push into the vector scan as `id IN (…)`
    * ([[graft.search.IdFetch]]) — over an id-clustered layout the exact
    * stage reads row groups proportional to `rerank`, never the corpus. */
  def topK(projected: DataFrame, vecs: DataFrame, m: Model, query: Seq[Double],
      k: Int, rerank: Int, idCol: String, vecCol: String): DataFrame = {
    val candIds = projected
      .select(col(idCol), coarseDistExpr(project(query, m)).as("d2"))
      .orderBy(col("d2").asc, col(idCol).asc)
      .limit(rerank)
      .select(col(idCol))
      .collect().map(_.get(0)).toSeq
    graft.search.IdFetch.fetchByIds(vecs, idCol, candIds)
      .select(col(idCol),
        round(graft.functions.VectorFunctions.cosineQuery(col(vecCol), query), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** S4 twin of [[topK]]: ONE coarse scan serves the whole query set —
    * every query's subspace distance evaluates in the same projection
    * over the reduced layout (an array of (query_id, d2) structs,
    * exploded), so the 16-double rows are read once per batch instead of
    * once per query ([[BinaryQuantizer.batchTopK]]'s argument). Per-query
    * candidate cuts use the k-bounded aggregator on (−d2, id) — the same
    * (d2 asc, id asc) deterministic cut as the single path — and the
    * re-rank FETCHES the bounded candidate union (≤ queries × rerank ids,
    * collected and pushed as `id IN (…)` into the vector scan — the
    * [[topK]] pruning argument) with each query's vector attached via the
    * rebuilt local candidate frame. Output (query_id, id, sim, rn). */
  def batchTopK(projected: DataFrame, vecs: DataFrame, m: Model,
      queries: Seq[(Long, Seq[Double])], k: Int, rerank: Int, idCol: String,
      vecCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = projected.sparkSession
    if (queries.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(
          StructField("query_id", LongType),
          StructField(idCol, LongType),
          StructField("sim", DoubleType),
          StructField("rn", LongType))))
    val d2Structs = array(queries.map { case (qid, q) =>
      struct(lit(qid).as("query_id"), coarseDistExpr(project(q, m)).as("d2"))
    }: _*)
    val scanned = projected
      .select(col(idCol), explode(d2Structs).as("qd"))
      .select(col("qd.query_id").as("query_id"), col(idCol),
        col("qd.d2").as("d2"))
    val cand = graft.operators.TopK.perGroupTopK(
      scanned, "query_id", col(idCol), -col("d2"), rerank)
      .select(col("query_id"), col("id").as(idCol))
    val candRows = cand.collect()
    val candDf = graft.search.IdFetch.localFrame(vecs, candRows, cand.schema)
    val qdf = spark.createDataFrame(
      spark.sparkContext.parallelize(queries.map { case (qid, q) => Row(qid, q) }),
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("qvec", ArrayType(DoubleType, containsNull = false),
          nullable = false))))
    val scored = graft.search.IdFetch.fetchByIds(
        vecs, idCol, candRows.map(_.get(1)).distinct.toSeq)
      .join(broadcast(candDf), Seq(idCol))
      .join(broadcast(qdf), "query_id")
      .select(col("query_id"), col(idCol),
        graft.GraftExtensions.cosineSim(
          col(vecCol).cast("array<double>"), col("qvec")).as("sim_raw"))
    graft.operators.TopK.perGroupTopK(scored, "query_id", col(idCol),
      col("sim_raw"), k)
      .withColumnRenamed("id", idCol)
      .orderBy("query_id", "rn")
  }
}
