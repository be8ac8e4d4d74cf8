package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.pq.ProductQuantizer

/** IVF-PQ: the composed scale path for similarity search — IVF cluster
  * pruning (S3, vervectordb/__init__.py:426-487) over PQ codes
  * (`:152-218`) scored by asymmetric distance, with an exact re-rank of
  * the surviving candidates.
  *
  * The reference keeps these separate (PQ codes are storage-only,
  * SURVEY.md §2.4); composing them is the standard IVFADC design from the
  * PQ literature (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011): codes encode the RESIDUAL v − centroid
  * of the row's cluster, so one 256-entry lookup table per (query, probed
  * cluster, subspace) turns scoring into m byte-indexed adds.
  *
  * Why this is the 100 TB shape:
  *  - the scan reads `m` bytes per row instead of `4·dim` (32–64×), and
  *    only from probed cluster partitions (file-level pruning over the
  *    [[Ivf.saveClustered]] layout) — I/O ∝ probes/k · m/(4·dim);
  *  - the per-query state (probe list + LUTs, nProbes·m·256 doubles
  *    ≈ 128 KB at defaults) ships with the closure — no join, no shuffle;
  *  - ranking is TakeOrderedAndProject (bounded heap per partition);
  *  - the refine step re-scores only refineFactor·k candidates against
  *    raw vectors via a broadcast semi-join — a point read, not a scan.
  *
  * Approximate by construction → recall-gated (RecallSpec), rows-only in
  * the driver contract like HNSW/IVF/LSH (SURVEY.md §5).
  */
object IvfPq {

  case class IvfPqModel(ivf: Ivf.IvfModel, pq: ProductQuantizer) extends Serializable

  /** Fit centroids (seeded, sample-bounded — [[Ivf.fit]]), train PQ on the
    * residuals of a deterministic ≤`sampleSize` hash-priority sample
    * (the [[ProductQuantizer.train]] / [[Ivf.fit]] shape — unbiased at any
    * scale, unlike an id-ordered prefix when ids follow crawl order), then
    * encode the full table distributed: (id, cluster_id, pq_code). Persist
    * with [[Ivf.saveClustered]] for the pruned serving layout. */
  def build(df: DataFrame, dim: Int, vecCol: String = "vector", idCol: String = "id",
      k: Int = 16, m: Int = 8, nBits: Int = 8, seed: Long = 42L,
      sampleSize: Int = 10000): (DataFrame, IvfPqModel) = {
    val (assigned, ivf) = Ivf.fit(df, vecCol, k, seed, idCol = idCol)
    val sample = df
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .orderBy(hash(col(idCol)), col(idCol))
      .limit(sampleSize)
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val kernel = new graft.functions.IvfKernel(ivf.centroids)
    val residuals = sample.map { v =>
      val c = ivf.centroids(kernel.nearest(v))
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
    val pq = new ProductQuantizer(dim, m, nBits).fit(residuals, seed)
    val model = IvfPqModel(ivf, pq)
    (encodeAssigned(assigned, model, vecCol, idCol), model)
  }

  /** Residual-encode an ALREADY-ASSIGNED table (has `cluster_id`). */
  private def encodeAssigned(assigned: DataFrame, model: IvfPqModel,
      vecCol: String, idCol: String): DataFrame =
    assigned.select(col(idCol), col("cluster_id"),
      graft.functions.ModelExpressions.pqEncodeResidual(
        col(vecCol), col("cluster_id"), model.pq, model.ivf.centroids).as("pq_code"))

  /** Assign + residual-encode with an EXISTING model — a pure function of
    * (row, model), one lazy narrow map. This is the incremental-maintenance
    * path: after a write, the encoded view is re-derived from live data
    * (deleted rows drop out, updated vectors re-encode); refit is a
    * separate drift decision, exactly like [[Ivf.assign]]. */
  def encode(df: DataFrame, model: IvfPqModel,
      vecCol: String = "vector", idCol: String = "id"): DataFrame =
    encodeAssigned(Ivf.assign(df, model.ivf, vecCol), model, vecCol, idCol)

  /** Residual ADC lookup table of `query` in cluster `cl`:
    * lut(s)(code) = ||(q − centroid_cl) slice s − codebook(s)(code)||². */
  private def residualLut(model: IvfPqModel, query: Array[Double],
      cl: Int): Array[Array[Double]] = {
    val cent = model.ivf.centroids(cl)
    val qr = Array.tabulate(query.length)(i => query(i) - cent(i))
    val subDim = model.pq.subDim
    Array.tabulate(model.pq.m) { s =>
      Array.tabulate(model.pq.k) { c =>
        val cb = model.pq.codebooks(s)(c)
        var d = 0.0
        var j = 0
        while (j < subDim) { val diff = qr(s * subDim + j) - cb(j); d += diff * diff; j += 1 }
        d
      }
    }
  }

  /** ADC search over the encoded table: probe the clusters `rule` picks
    * ([[Ivf.defaultRule]] is the reference's S3 rule; under
    * [[Ivf.Adaptive]] the composed path prunes BOTH ways — fewer probed
    * partitions AND m-byte codes per row), score codes via the
    * per-cluster residual LUTs, keep the `refineFactor·topK` best, then
    * (if `refineFrom` is given) re-rank those exactly by cosine against
    * the raw vectors. The refined output is (id, sim) — the same ranking
    * contract as [[graft.search.VectorSearch.bruteForceTopK]] restricted
    * to the candidate set.
    *
    * `filter` (S5 semantics over the refine stage): applied to the raw
    * rows during re-rank — every returned row satisfies it exactly, but
    * because ADC candidates are selected before filtering, a selective
    * predicate can return fewer than topK rows (the reference's own
    * overfetch-then-filter behavior, vervectordb/__init__.py:470-485;
    * raise `refineFactor` to compensate). Requires `refineFrom`. */
  def search(encoded: DataFrame, model: IvfPqModel, query: Seq[Double], topK: Int,
      rule: Ivf.ProbeRule, refineFrom: Option[DataFrame] = None,
      refineFactor: Int = 4, vecCol: String = "vector", idCol: String = "id",
      filter: Option[Column] = None): DataFrame = {
    require(filter.isEmpty || refineFrom.nonEmpty,
      "filtered IVF-PQ search needs refineFrom (the filter applies to raw rows)")
    val probes = rule.probes(model.ivf, query, topK)
    val q = query.toArray
    // dense-indexed by cluster_id (unprobed entries null; the scan is
    // pruned to probed partitions before the scoring projection)
    val luts = new Array[Array[Array[Double]]](model.ivf.k)
    probes.foreach(cl => luts(cl) = residualLut(model, q, cl))
    val cand = encoded.where(Ivf.probeFilter(probes))
      .withColumn("adc_score", graft.functions.ModelExpressions
        .adcScoreClustered(col("cluster_id"), col("pq_code"), luts))
      .orderBy(col("adc_score").desc, col(idCol).asc)
      .limit(math.max(topK, refineFactor * topK))
    refineFrom match {
      case None =>
        cand.limit(topK).select(col(idCol), round(col("adc_score"), 6).as("adc_score"))
      case Some(raw) =>
        // pruned refine fetch (the graft.search.IdFetch discipline): the
        // ADC cut is driver-bounded (refineFactor·topK), so its ids push
        // into the raw-vector scan as an IN list instead of probing the
        // whole table as the scan side of a broadcast join
        val candIds = cand.select(col(idCol)).collect().map(_.get(0)).toSeq
        graft.search.IdFetch.fetchByIds(
            filter.foldLeft(raw)((d, f) => d.where(f)), idCol, candIds)
          .withColumn("sim", round(VectorFunctions.cosineQuery(col(vecCol), query), 6))
          .orderBy(col("sim").desc, col(idCol).asc)
          .limit(topK)
          .select(col(idCol), col("sim"))
    }
  }

  /** S4 with method=ivfpq: the whole query batch ADC-scans probed cluster
    * partitions in ONE distributed job. Per-query probe lists explode to
    * (query_id, cluster_id) equi-join keys (the [[Ivf.batchSearch]]
    * shape, so the scan prunes to the union of probed partitions), scoring
    * reads per-(query, cluster) residual LUTs shipped with the closure
    * (|queries|·nProbes·m·2^nBits doubles — ~2 MB for a 15-query batch at
    * defaults; chunk very large batches), candidate selection is the
    * k-bounded aggregator (map-side truncation to refineFactor·topK rows
    * per query per task), and the surviving candidates re-rank exactly by
    * cosine against raw vectors via two broadcast joins. Returns
    * (query_id, idCol, sim, rn) — the same contract as every batch path. */
  def batchSearch(encoded: DataFrame, model: IvfPqModel,
      queries: Seq[(Long, Seq[Double])], topK: Int, rule: Ivf.ProbeRule,
      refineFrom: DataFrame, refineFactor: Int = 4, vecCol: String = "vector",
      idCol: String = "id", filter: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = encoded.sparkSession
    // under [[Ivf.Adaptive]] fewer probed (query, cluster) pairs means
    // fewer LUTs shipped AND a smaller probe join, the batch path's two
    // per-query costs
    val luts: Map[(Long, Int), Array[Array[Double]]] = (for {
      (qid, q) <- queries
      cl <- rule.probes(model.ivf, q, topK)
    } yield (qid, cl) -> residualLut(model, q.toArray, cl)).toMap
    val kernel = new graft.functions.BatchAdcKernel(luts)
    val probeRows = luts.keys.toSeq.sorted.map { case (qid, cl) => Row(qid, cl) }
    val qdf = spark.createDataFrame(
      spark.sparkContext.parallelize(probeRows),
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("cluster_id", IntegerType, nullable = false))))
    // widen before the probe join: it multiplies work by |queries|·nProbes
    // and must not run at a narrow layout scan's parallelism (the same
    // guard Ivf.batchSearch applies to the identical shape)
    val cand = graft.operators.Par.widen(encoded).join(broadcast(qdf), "cluster_id")
      .withColumn("adc", graft.functions.ModelExpressions
        .adcScoreBatch(col("query_id"), col("cluster_id"), col("pq_code"), kernel))
    val keep = graft.operators.TopK
      .perGroupTopK(cand, "query_id", col(idCol), col("adc"), math.max(topK, refineFactor * topK))
      .select(col("query_id"), col("id").as(idCol))
    val qvecDf = spark.createDataFrame(
      spark.sparkContext.parallelize(queries.map { case (qid, q) => Row(qid, q) }),
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("qvec", ArrayType(DoubleType, containsNull = false), nullable = false))))
    // pruned refine fetch: the per-query cuts are driver-bounded
    // (|queries|·refineFactor·topK), so collect them, push the id union
    // into the raw-vector scan, and re-attach query assignment from the
    // rebuilt local frame (the Pca.batchTopK shape)
    val keepRows = keep.collect()
    val keepDf = graft.search.IdFetch.localFrame(refineFrom, keepRows, keep.schema)
    val joined = graft.search.IdFetch.fetchByIds(
        filter.foldLeft(refineFrom)((d, f) => d.where(f)), idCol,
        keepRows.map(_.get(1)).distinct.toSeq)
      .join(broadcast(keepDf), idCol)
      .join(broadcast(qvecDf), "query_id")
      .withColumn("sim_raw",
        graft.GraftExtensions.cosineSim(col(vecCol).cast("array<double>"), col("qvec")))
    // rank on the ROUNDED similarity like single-query search (which
    // orders by round(sim,6) with id tiebreak) — ranking raw would let a
    // last-ulp difference reorder rounding ties and break batch/single
    // row-for-row equality
    graft.operators.TopK.perGroupTopK(joined, "query_id", col(idCol),
      round(col("sim_raw"), 6), topK)
      .withColumnRenamed("id", idCol)
  }

  /** [[batchSearch]] for query sets too large to collect: the queries
    * stay a DataFrame end-to-end. Probe lists come from `rule`'s codegen'd
    * [[graft.functions.ProbeClusters]] walk per query row; ADC scores
    * come from the LUT-free [[graft.functions.ModelExpressions
    * .adcScoreDirect]] kernel (bit-identical arithmetic to the collected
    * path's per-(query, cluster) LUTs — the LUT is pure precomputation,
    * which is exactly the driver state this path refuses to hold); the
    * probe join salts the k-valued cluster_id key like
    * [[Ivf.bigBatchSearch]]; the exact refine joins candidates, raw
    * vectors, and query vectors with SHUFFLE joins. BigBatchSpec gates
    * exact multi-thousand-query parity against [[batchSearch]] under both
    * rules. */
  def bigBatchSearch(encoded: DataFrame, model: IvfPqModel,
      queries: DataFrame, topK: Int, rule: Ivf.ProbeRule, refineFrom: DataFrame,
      refineFactor: Int = 4, vecCol: String = "vector", idCol: String = "id",
      queryIdCol: String = "query_id", queryVecCol: String = "qvec",
      filter: Option[Column] = None): DataFrame = {
    val (q0, probed) = Ivf.saltedProbeJoin(queries, encoded, model.ivf, topK, rule,
      queryIdCol, queryVecCol, idCol)
    val cand = probed
      .withColumn("adc", graft.functions.ModelExpressions.adcScoreDirect(
        col("qvec"), col("cluster_id"), col("pq_code"),
        model.pq, model.ivf.centroids))
      .select(col("query_id"), col(idCol), col("adc"))
    val keep = graft.operators.TopK
      .perGroupTopK(cand, "query_id", col(idCol), col("adc"),
        math.max(topK, refineFactor * topK))
      .select(col("query_id"), col("id").as(idCol))
    // rank on the ROUNDED similarity like the collected path (see
    // batchSearch) — raw ranking could reorder rounding ties.
    // `filter` applies at the REFINE stage, the family's S5 contract
    // ([[search]]/[[batchSearch]] — reference overfetch-then-filter
    // semantics: ADC candidates are selected before filtering, so a
    // selective predicate can return fewer than topK rows).
    val joined = filter.foldLeft(refineFrom)((d, f) => d.where(f))
      .join(keep.hint("shuffle_hash"), idCol)
      .join(q0.hint("shuffle_hash"), "query_id")
      .withColumn("sim_raw",
        graft.GraftExtensions.cosineSim(col(vecCol).cast("array<double>"), col("qvec")))
    graft.operators.TopK.perGroupTopK(joined, "query_id", col(idCol),
      round(col("sim_raw"), 6), topK)
      .withColumnRenamed("id", idCol)
  }
}
