package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{Hnsw, Ivf, LshAnn}
import graft.model.VectorModel
import graft.pq.ProductQuantizer

/** Approximate operators (S2 HNSW, S3 IVF, W5–W9 PQ). Deliberately NOT in
  * oracleSql — k-means/graph internals aren't SQL-expressible; the driver
  * records rows-only checks and ScalaTest gates recall/reconstruction
  * against the exact operators (SURVEY.md §5, the reference's own
  * methodology in examples/datawhale.py:142-207). Outputs are still
  * deterministic (seeded). The exceptions are the serving paths that are
  * closed-form GIVEN a trained artifact — all hash-gated: SQ8 and binary
  * (affine/midrange codecs mirror exactly, single AND batch), and — via
  * the [[OracleSidecars]] two-step oracle — PQ-ADC + the PQ roundtrip
  * ([[annPqAdcTopK]]/[[pqRoundtrip]]: published codebook; re-derived
  * encode, LUT, score, reconstruction MAE), the ENTIRE IVF serving
  * family ([[IvfOracleSql]]: published centroids; assignment, probe
  * ranking, BOTH the fixed and the adaptive candidate-mass probe rules,
  * filters, scoring and every tie-break re-derived in SQL), and the
  * ENTIRE IVF-PQ serving family ([[IvfPqOracleSql]]: both sidecars;
  * residual encode, per-(query, cluster) residual LUTs, the adc cut,
  * the exact re-rank — single, collected batch, and adaptive big
  * batch). Only graph traversals (HNSW), the LSH probe walks, MLlib
  * internals, and the HLL sketch remain genuinely spec-gated. */
object ApproxQueries {

  /** S3 over lineitem-derived vectors: KMeans(16, seed 42) + 8-probe
    * search. HASH-GATED ([[ivfTopKSql]]): the seeded fit is identical to
    * the one [[ivfLayout]] persists, so the published centroid sidecar
    * makes probe ranking, assignment, and the brute rule closed-form. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val (assigned, model) = Ivf.fit(VectorModel.lineitemVectors(spark, dir))
    publishIvfCentroids(spark, dir, model)
    Ivf.search(assigned, model, VectorModel.Query, 10, Ivf.defaultRule(model))
      .select("id", "sim", "cluster_id")
  }

  /** ann_ivf_topk's adaptive candidate-mass budget (overscan·topK rows —
    * 240 candidates at the entry's k=20). Chosen on the measured
    * embeddings frontier (DevIvfEmbSweep, sf0.01, 20 queries): a 240-row
    * budget probes the SAME mass as the fixed max(k/2,8) rule on the
    * recall corpus (scanned 0.508 vs 0.504) at slightly better recall
    * (0.825 vs 0.815) while adapting to cluster-size skew — and unlike
    * the fixed rule, whose cost is a constant FRACTION of the corpus
    * (50% of 100 TB is not a query plan), the candidate mass stays
    * 240 rows however large the layout grows. ≥0.95 recall on this
    * near-uniform corpus is only reachable at ~full scan (a 480-row
    * budget already scans 0.998 of the 500-row corpus), so the
    * high-recall ≥0.95 gates live with the STRUCTURED family
    * (RecallSpec), not this entry. */
  val AnnIvfOverscan = 12

  /** Probe floor of the adaptive walk — [[Ivf.Adaptive]]'s default,
    * named here because the oracle mirrors it. */
  val AnnIvfMinProbes = 3

  /** The entry's k — named because the oracle's budget and RecallBench's
    * published operating point both derive from overscan·THIS, and a
    * bare literal in three places desyncs silently. */
  val AnnIvfTopKK = 20

  /** S3 over the embeddings table — served by the ADAPTIVE candidate-mass
    * walk ([[Ivf.Adaptive]]) since round 14: probe centroids in
    * similarity order until the probed clusters hold
    * [[AnnIvfOverscan]]·topK rows (floor [[AnnIvfMinProbes]]), instead of
    * the oblivious fixed count (which stays pinned as the
    * reference-parity mode in the struct family's `vq_ivf_parity_topk`).
    * HASH-GATED ([[annIvfTopKSql]]) via its own 64-d centroid sidecar:
    * the oracle re-derives cluster sizes from the re-derived assignment
    * and mirrors the walk as a cumulative window stop, the
    * `vq_ivf_bigbatch` pattern. */
  def annIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val (assigned, model) = Ivf.fit(
      VectorModel.embeddings(spark, dir).withColumn("embedding", col("embedding").cast("array<double>")),
      vecCol = "embedding", idCol = "vec_id")
    publishCentroidsFlat(spark, "ivf_centroids_emb", dir, model.centroids)
    Ivf.search(assigned, model, VectorModel.AnnQuery, AnnIvfTopKK,
      Ivf.Adaptive(Ivf.clusterSizes(assigned), AnnIvfOverscan, AnnIvfMinProbes),
      vecCol = "embedding", idCol = "vec_id")
      .select("vec_id", "sim", "cluster_id")
  }

  /** S2 over lineitem-derived vectors (per-partition graphs, global merge). */
  def hnswTopK(spark: SparkSession, dir: String): DataFrame =
    Hnsw.hnswTopK(VectorModel.lineitemVectors(spark, dir), VectorModel.Query, 10)

  /** W7–W9 roundtrip over embeddings: per-row mean-abs reconstruction error
    * (the reference's PQ quality metric, examples/datawhale.py:52-61). */
  def pqRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val emb = VectorModel.embeddings(spark, dir)
    val pq = trainedPq(spark, dir)
    publishPqCodebook(spark, dir, pq) // repair no-op unless dir switched / root lost
    val encoded = ProductQuantizer.encodeDf(emb, pq, "embedding")
    val decoded = ProductQuantizer.decodeDf(encoded, pq)
    decoded.select(
      col("vec_id"),
      round(
        aggregate(
          zip_with(col("embedding").cast("array<double>"), col("vector_approx"),
            (a, b) => abs(a - b)),
          lit(0.0), (acc, x) => acc + x) / VectorModel.EmbDim.toDouble,
        6).as("mae"))
      .orderBy("vec_id")
  }

  /** HASH-GATE of [[pqRoundtrip]] GIVEN the published codebook: the
    * oracle re-encodes (per-subspace L2 argmin, ties to the lower code),
    * reconstructs from the chosen centroid's components, and re-derives
    * the per-row mean absolute error with the SAME left-associated
    * index-order sum the zip_with/aggregate fold computes. */
  lazy val pqRoundtripSql: String = {
    import PqOracleSql.{cbCte, encD, m, subDim}
    val reconCols = (for { s <- 0 until m; j <- 0 until subDim } yield
      s"max(CASE WHEN s = $s THEN v$j END) AS r${s * subDim + j}")
      .mkString(",\n    ")
    val absSum = (0 until VectorModel.EmbDim)
      .map(i => s"abs(CAST(e.embedding[${i + 1}] AS DOUBLE) - p.r$i)")
      .mkString(" + ")
    s"""WITH $cbCte,
       |d AS (SELECT e.vec_id AS vec_id, cb.s AS s, cb.c AS c,
       |    cb.v0 AS v0, cb.v1 AS v1, cb.v2 AS v2, cb.v3 AS v3,
       |    cb.v4 AS v4, cb.v5 AS v5, cb.v6 AS v6, cb.v7 AS v7,
       |    $encD AS enc_d
       |  FROM embeddings e CROSS JOIN cb),
       |sel AS (SELECT vec_id, s, v0, v1, v2, v3, v4, v5, v6, v7,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY enc_d ASC, c ASC) AS rn
       |  FROM d),
       |piv AS (SELECT vec_id,
       |    $reconCols
       |  FROM sel WHERE rn = 1 GROUP BY vec_id)
       |SELECT e.vec_id AS vec_id,
       |  round(($absSum) / CAST('${VectorModel.EmbDim.toDouble}' AS DOUBLE), 6) AS mae
       |FROM embeddings e JOIN piv p ON p.vec_id = e.vec_id
       |ORDER BY vec_id""".stripMargin
  }

  /** S3 over the PERSISTED cluster-partitioned layout — the deployment
    * shape: build once ([[Ivf.saveClustered]]), serve many. Serving
    * defaults to ADAPTIVE probing (centroids in similarity order until the
    * candidate-mass target — recall-neutral at a fraction of the fixed
    * probe count, RecallSpec-gated); the probe filter still prunes cluster
    * partitions at the file level. The reference's fixed probe rule stays
    * available as [[ivfParityTopK]]. */
  def ivfStoredTopK(spark: SparkSession, dir: String): DataFrame = {
    val (path, model) = ivfLayout(spark, dir)
    publishIvfCentroids(spark, dir, model) // repair no-op unless dir switched / root lost
    val clustered = spark.read.parquet(path)
    Ivf.search(clustered, model, VectorModel.Query, 10, Ivf.Adaptive(ivfSizes(spark, dir)))
      .select("id", "sim", "cluster_id")
  }

  /** Build-once/serve-many: fit + write of the cluster-partitioned layout,
    * memoized per dataset dir. Exposed so Bench can run it as an explicit
    * timed build step — serving queries then time serving only. */
  private[graft] def ivfLayout(spark: SparkSession, dir: String): (String, Ivf.IvfModel) =
    ivfLayoutCache.computeIfAbsent(dir, _ => {
      val vecs = VectorModel.lineitemVectors(spark, dir)
      val (_, model) = Ivf.fit(vecs)
      val path = graft.store.Fs.scratchDir(spark, "graft_ivf_layout")
      // assign WITHOUT the round-robin widen: the nearest-centroid map is
      // cheap enough for scan-task parallelism, and saveClustered's own
      // cluster repartition provides the write parallelism — skipping the
      // widen removes a full extra exchange of the table (measured 2x on
      // the write leg, DevIvfProfile)
      Ivf.saveClustered(Ivf.assign(vecs, model), path)
      // the filtered-big-batch oracle's centroid sidecar is build-time
      // state like the layout — the WRITE lands here (the bench build
      // step), while the serving entry re-calls publish as a cheap
      // repair no-op (dataset switch / deleted root)
      publishIvfCentroids(spark, dir, model)
      (path, model)
    })

  /** Flat (cluster_id, c0..c{dim−1}) sidecar of a centroid table — the
    * IVF-family oracle input at any dimensionality. */
  private[queries] def publishCentroidsFlat(spark: SparkSession, name: String,
      dir: String, centroids: Array[Array[Double]]): Unit =
    OracleSidecars.publish(spark, name, dir) {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val dim = centroids(0).length
      val schema = StructType(
        StructField("cluster_id", IntegerType, nullable = false) +:
          (0 until dim).map(j => StructField(s"c$j", DoubleType, nullable = false)))
      val rows = centroids.zipWithIndex.map { case (c, i) =>
        Row.fromSeq(i +: c.toSeq)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
    }

  private def publishIvfCentroids(spark: SparkSession, dir: String,
      model: Ivf.IvfModel): Unit =
    publishCentroidsFlat(spark, "ivf_centroids", dir, model.centroids)

  private val ivfLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Ivf.IvfModel)]()

  /** S3 reference-parity serving over the persisted clustered layout: the
    * reference's FIXED probe rule (max(k/2, 8) nearest clusters,
    * vervectordb/__init__.py:430-434) kept as an explicit option now that
    * adaptive probing is the serving default — the probe-count knob a
    * migrating user can pin for bit-for-bit probe parity. */
  def ivfParityTopK(spark: SparkSession, dir: String): DataFrame = {
    val (path, model) = ivfLayout(spark, dir)
    publishIvfCentroids(spark, dir, model) // repair no-op unless dir switched / root lost
    val clustered = spark.read.parquet(path)
    Ivf.search(clustered, model, VectorModel.Query, 10, Ivf.defaultRule(model))
      .select("id", "sim", "cluster_id")
  }

  /** Per-cluster row counts of the stored layout — the adaptive-probing
    * statistic, memoized beside the layout (one aggregate per dataset). */
  private[graft] def ivfSizes(spark: SparkSession, dir: String): Map[Int, Long] =
    ivfSizesCache.computeIfAbsent(dir, _ => {
      val (path, _) = ivfLayout(spark, dir)
      Ivf.clusterSizes(spark.read.parquet(path))
    })

  private val ivfSizesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, Long]]()

  /** S4 with method=hnsw (vervectordb/__init__.py:527-531): per-partition
    * graphs built ONCE for the whole query batch, searched per query,
    * k-bounded global merge — amortizing construction across queries,
    * unlike the reference's serial per-query loop. */
  def hnswBatchTopK(spark: SparkSession, dir: String): DataFrame = {
    val queries = VectorModel.partQueries(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
      .toSeq
    Hnsw.hnswBatchTopK(VectorModel.lineitemVectors(spark, dir), queries, 3)
      .orderBy("query_id", "rn")
  }

  /** S2 over the PERSISTED per-partition graphs ([[graft.index.HnswStore]])
    * — W10/W11 parity: the reference pickles its HNSW graph on save; here
    * the graph structure round-trips through parquet and searches restore
    * in O(nodes+edges) with results identical to a fresh build
    * (RecallSpec). Layout memoized per dataset dir. */
  def hnswStoredTopK(spark: SparkSession, dir: String): DataFrame =
    graft.index.HnswStore.search(spark, hnswLayout(spark, dir), VectorModel.Query, 10)

  /** HASH-GATE of the single-query HNSW family (`vq_hnsw_topk`,
    * `vq_hnsw_stored_topk`, `vq_hnsw_routed_topk`,
    * `vq_hnsw_routed_parity`) — an EXACTNESS gate, not a structural
    * mirror, converting four of the eight `vq_hnsw_*` entries out of
    * the spec-only set (round-14 task 8 + follow-through):
    *
    * STATUS (round 15): the beam heaps are now (sim, extId)-TOTAL-ORDERED
    * ([[graft.index.HnswIndex]].Heap — equal-sim candidates explore
    * lowest-id first, the result boundary keeps lowest ids, PureProps
    * pins determinism under tie reshuffles), which retires the round-14
    * blocker's first half: the walk is now SQL-expressible IN PRINCIPLE
    * (a recursive CTE popping one total-ordered beam step per iteration,
    * state in LIST columns). The re-attempted batch-twin conversion
    * still fails on the SECOND half — re-measured at the total-ordered
    * HEAD, the twins' divergences are REAL beam misses, not tie
    * artifacts: DevHnswExact shows `vq_hnsw_batch_topk` and
    * `vq_hnsw_stored_batch` still lose a neighbor at sf0.1 and
    * `vq_hnsw_routed_batch` loses boundary neighbors to unprobed shards
    * at every SF, all unchanged by the total ordering. Those are
    * within-contract (≥0.8 recall) approximation gaps; converting the
    * twins would gate an exactness they measurably do not have. The
    * recursive-CTE structural mirror stays un-built because the
    * exactness gate below is simpler and equally binding for the four
    * single-query serves.
    *
    * What IS gated: on this corpus each of the four single-query serves
    * — fresh per-partition build, stored-graph restore, adaptive routed,
    * fixed-probe routed parity — returns EXACTLY the brute-force top-10,
    * verified independently at sf0.001/0.01/0.1 (DevHnswExact; recall
    * 1.0 has held every round since round 5 on frozen testdata), so the
    * shared oracle is the exact top-k mirror. The gate is deliberately
    * STRONGER than the operators' ≥0.8-recall contract: if a future
    * graph/routing change breaks exactness on any of the four, a hash
    * mismatch flagging the recall regression is the correct signal. The
    * BATCH twins stay spec-gated on concrete measured counterexamples —
    * `vq_hnsw_stored_batch`'s sf0.1 query-5 beam misses the rank-2
    * neighbor (id 5266966342476, sim 0.99891), `vq_hnsw_batch_topk`
    * diverges at sf0.1 too, and `vq_hnsw_routed_batch` (k=3 over the
    * part queries) loses boundary neighbors to unprobed shards at every
    * SF — which is also the evidence this family cannot be
    * blanket-converted.
    *
    * TRIAGE NOTE for a future hash mismatch on any of the four (also at
    * their oracle-map registrations): because this gate is empirical
    * exactness, not a structural mirror, a mismatch may be a benign
    * TIE-ORDER artifact (a heap/tie tweak reshuffling equal-similarity
    * ranks) or a dataset change rather than a recall regression. Check
    * DevHnswExact first: if measured recall is still ≥ the 0.8 contract,
    * the operator is healthy — either restore exactness or fall back to
    * the spec gate (drop the entry from the oracle map; RecallSpec stays
    * the contract gate, the `vq_hnsw_*` batch twins are the precedent).
    * Only a DevHnswExact recall drop is a real regression. */
  lazy val hnswExactnessOracleSql: String =
    s"""WITH ${OracleSql.vectorCte}
       |SELECT id, round(${OracleSql.cosineConst((i: Int) => s"v$i", VectorModel.Query)}, 6) AS sim
       |FROM v ORDER BY sim DESC, id ASC LIMIT 10""".stripMargin

  /** Build-once/serve-many graph persistence, memoized per dataset dir;
    * exposed as a Bench build step (see [[ivfLayout]]). */
  private[graft] def hnswLayout(spark: SparkSession, dir: String): String =
    hnswLayoutCache.computeIfAbsent(dir, _ => {
      val p = graft.store.Fs.scratchDir(spark, "graft_hnsw_layout")
      graft.index.HnswStore.save(VectorModel.lineitemVectors(spark, dir), s"$p/g")
      s"$p/g"
    })

  private val hnswLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The routed probe operating point — MEASURED on the DevRoutedSweep
    * grid (RECALL.md round 7): 8 probes of 64 shards dominates the earlier
    * 4-of-16 on every axis at sf0.1 — recall 0.985 vs 0.965 (finer shards
    * let the centroid scoring skip more irrelevant data), build 5.8 s vs
    * 16.7 s (per-shard graph construction is superlinear, so more smaller
    * graphs win), serving ~2× faster, scanned fraction 12.5% vs 25%. The
    * 100× path is MORE shards at a sublinear probe budget, not bigger
    * graphs — which is why the SHARD COUNT is no longer pinned here: the
    * layout builds under [[graft.index.HnswStore.DeriveShards]], whose
    * [[graft.index.HnswStore.RoutedTargetShardRows]] (~9.4k rows/shard)
    * IS this sweep's measured operating point (600k / 64), so the count
    * now grows with the corpus instead of freezing at one SF's optimum. */
  val RoutedProbes = 8

  /** S2 over the CENTROID-ROUTED persisted graphs — the serving shape that
    * survives thousands of shards: the routing sidecar scores shard
    * centroids driver-side and the scan's partition filter prunes every
    * unprobed shard's files; only the probed graphs restore. The probe
    * LIST is ADAPTIVE by default ([[graft.index.HnswStore.Adaptive]] over
    * the memoized per-shard node counts) — the same candidate-mass rule
    * as stored-IVF serving, so at 1000+ shards
    * the probed count tracks each query's need instead of a fixed
    * [[RoutedProbes]]; recall at fewer mean probed shards is spec-gated
    * (RecallSpec, RECALL.md round 8). */
  def hnswRoutedTopK(spark: SparkSession, dir: String): DataFrame =
    graft.index.HnswStore.search(spark, hnswRoutedLayout(spark, dir),
      VectorModel.Query, 10, graft.index.HnswStore.Adaptive(routedStats(spark, dir)))

  /** The FIXED-probe routed path ([[RoutedProbes]] of the derived count) —
    * kept registered as the parity knob beside the adaptive default,
    * exactly like `vq_ivf_parity_topk`: a migrating user can pin the
    * constant-probe rule for bit-for-bit reproducibility. */
  def hnswRoutedParityTopK(spark: SparkSession, dir: String): DataFrame =
    graft.index.HnswStore.search(spark, hnswRoutedLayout(spark, dir),
      VectorModel.Query, 10, graft.index.HnswStore.Nearest(RoutedProbes))

  /** S4 with method=hnsw over the routed layout: the whole query batch in
    * one job, scan pruned to the union of the queries' probed shards, each
    * graph serving only the queries that probed it — per-query ADAPTIVE
    * probe lists like the single path. */
  def hnswRoutedBatchTopK(spark: SparkSession, dir: String): DataFrame = {
    val path = hnswRoutedLayout(spark, dir)
    val queries = VectorModel.partQueries(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
      .toSeq
    graft.index.HnswStore.batchSearch(spark, path, queries, 3,
      graft.index.HnswStore.Adaptive(routedStats(spark, dir)))
      .orderBy("query_id", "rn")
  }

  /** Per-shard node counts + mean shard radius of the routed layout — the
    * adaptive-probing statistics, memoized beside the layout (two
    * aggregates per dataset, like [[ivfSizes]]). */
  private[graft] def routedStats(spark: SparkSession, dir: String)
      : graft.index.HnswStore.RoutedStats = {
    // resolve the layout FIRST, outside the cache lambda: the layout
    // builder itself populates routedStatsCache (build-time stats), and a
    // computeIfAbsent whose mapping function re-enters the same key is a
    // ConcurrentHashMap "recursive update" error
    val path = hnswRoutedLayout(spark, dir)
    routedStatsCache.computeIfAbsent(dir, _ =>
      graft.index.HnswStore.routedStats(spark, path))
  }

  private val routedStatsCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.index.HnswStore.RoutedStats]()

  /** Build-once/serve-many routed graph persistence (k-means shards +
    * routing sidecar), memoized per dataset dir; a Bench build step. */
  private[graft] def hnswRoutedLayout(spark: SparkSession, dir: String): String =
    hnswRoutedLayoutCache.computeIfAbsent(dir, _ => {
      val p = graft.store.Fs.scratchDir(spark, "graft_hnsw_routed_layout")
      graft.index.HnswStore.saveRouted(
        VectorModel.lineitemVectors(spark, dir), s"$p/g")
      // collect the adaptive-probing statistics HERE (two aggregates over
      // the fresh layout) — build-time work, not first-serve work; written
      // into the sibling cache directly (routedStats() would re-enter this
      // computeIfAbsent)
      routedStatsCache.put(dir, graft.index.HnswStore.routedStats(spark, s"$p/g"))
      s"$p/g"
    })

  private val hnswRoutedLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** S4 with method=ivf over the persisted clustered layout: the whole
    * query batch in one job, each query scanning only its probed cluster
    * partitions ([[Ivf.batchSearch]]) — adaptive per-query probe lists
    * (the serving default), so join volume scales with each query's
    * candidate need instead of |queries|·probes. */
  def ivfBatchTopK(spark: SparkSession, dir: String): DataFrame = {
    val (path, model) = ivfLayout(spark, dir)
    publishIvfCentroids(spark, dir, model) // repair no-op unless dir switched / root lost
    val clustered = spark.read.parquet(path)
    val queries = VectorModel.partQueries(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
      .toSeq
    Ivf.batchSearch(clustered, model, queries, 3, Ivf.Adaptive(ivfSizes(spark, dir)))
      .orderBy("query_id", "rn")
  }

  /** S4 with method=hnsw over the PERSISTED graphs — the full
    * build-once/serve-many batch shape: graph restore amortized across
    * the query set, no index shuffle ([[graft.index.HnswStore.batchSearch]]). */
  def hnswStoredBatchTopK(spark: SparkSession, dir: String): DataFrame = {
    val path = hnswLayout(spark, dir)
    val queries = VectorModel.partQueries(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
      .toSeq
    graft.index.HnswStore.batchSearch(spark, path, queries, 3)
      .orderBy("query_id", "rn")
  }

  /** IVF-PQ (IVFADC + exact refine, [[graft.index.IvfPq]]) over the
    * PERSISTED cluster-partitioned code layout: the serving scan reads
    * m-byte codes from probed cluster partitions only (file pruning AND
    * 32× fewer bytes per row — the composed 100 TB path), then re-ranks
    * `4·k` candidates exactly against raw vectors. */
  def annIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val (path, model) = ivfPqLayout(spark, dir)
    publishIvfPqSidecars(spark, dir, model) // repair no-op unless dir switched / root lost
    val encoded = spark.read.parquet(path)
    // refine fetches from the id-clustered layout: the pruned IN-list
    // fetch reads row groups ∝ the bounded candidate count
    val emb = spark.read.parquet(vecByIdLayout(spark, dir))
    graft.index.IvfPq.search(encoded, model, VectorModel.AnnQuery, 20,
      Ivf.defaultRule(model.ivf), refineFrom = Some(emb), vecCol = "embedding", idCol = "vec_id")
      .select("vec_id", "sim")
  }

  /** The IVF-PQ oracle's two sidecars: the model's own coarse centroids
    * (64-d) and its RESIDUAL PQ codebooks. */
  private def publishIvfPqSidecars(spark: SparkSession, dir: String,
      model: graft.index.IvfPq.IvfPqModel): Unit = {
    publishCentroidsFlat(spark, "ivfpq_centroids", dir, model.ivf.centroids)
    OracleSidecars.publish(spark, "ivfpq_codebook", dir) {
      import spark.implicits._
      val pq = model.pq
      (for { s <- 0 until pq.m; c <- 0 until pq.k } yield {
        val v = pq.codebooks(s)(c)
        (s, c, v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7))
      }).toDF("s", "c", "v0", "v1", "v2", "v3", "v4", "v5", "v6", "v7")
    }
  }

  /** Shared SQL scaffolding of the IVF-PQ oracles — GIVEN the published
    * coarse centroids and residual codebooks, the COMPOSED pipeline is
    * closed-form end to end: assignment (L2 argmin over the coarse
    * centroids), fixed and adaptive probe rules, RESIDUAL encode per
    * subspace (argmin of ‖(v−centroid) slice − code‖², ties to the lower
    * code — query-independent, so `sel` is computed once per mirror),
    * the per-(query, cluster) residual LUT, the −Σ ADC cut by (raw adc
    * desc, id asc), and the exact-cosine re-rank (single: ordered by the
    * rounded sim; batch: the aggregator also ranks the rounded sim). */
  private object IvfPqOracleSql {
    val d: Int = VectorModel.EmbDim
    val m = 8
    val subDim: Int = d / m
    def qL(i: Int): String = OracleSql.lit(VectorModel.AnnQuery(i))
    private def cbv(j: Int) = s"cb.v$j"

    /** cent + cb + assignment + the query-independent residual encode
      * (`sel`, keep `ern = 1` rows: per (vec, subspace) the chosen
      * codeword's components and the vec's cluster). */
    val commonCtes: String = {
      def rE(s: Int)(j: Int) =
        s"(${OracleSql.listElem("e.embedding")(s * subDim + j)} - ct.c${s * subDim + j})"
      val encD = (0 until m)
        .map(s => s"WHEN $s THEN ${OracleSql.l2sq(rE(s), cbv, subDim)}")
        .mkString("CASE cb.s ", " ", " END")
      s"""cent AS (SELECT CAST(cluster_id AS INTEGER) AS cluster_id,
         |    ${(0 until d).map(j => s"c$j").mkString(", ")}
         |  FROM ${OracleSidecars.sqlTable("ivfpq_centroids")}),
         |cb AS (SELECT CAST(s AS INTEGER) AS s, CAST(c AS INTEGER) AS c,
         |    v0, v1, v2, v3, v4, v5, v6, v7
         |  FROM ${OracleSidecars.sqlTable("ivfpq_codebook")}),
         |asg AS (SELECT vec_id, cluster_id FROM (
         |  SELECT a.vec_id, cent.cluster_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${OracleSql.l2sq(i => s"cent.c$i", i => OracleSql.listElem("a.embedding")(i), d)} ASC, cent.cluster_id ASC) AS arn
         |  FROM embeddings a CROSS JOIN cent) WHERE arn = 1),
         |dd AS (SELECT e.vec_id AS vec_id, asg.cluster_id AS cluster_id,
         |    cb.s AS s, cb.c AS c,
         |    cb.v0 AS v0, cb.v1 AS v1, cb.v2 AS v2, cb.v3 AS v3,
         |    cb.v4 AS v4, cb.v5 AS v5, cb.v6 AS v6, cb.v7 AS v7,
         |    $encD AS enc_d
         |  FROM embeddings e
         |    JOIN asg ON asg.vec_id = e.vec_id
         |    JOIN cent ct ON ct.cluster_id = asg.cluster_id
         |    CROSS JOIN cb),
         |sel AS (SELECT vec_id, cluster_id, s,
         |    v0, v1, v2, v3, v4, v5, v6, v7,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY enc_d ASC, c ASC) AS ern
         |  FROM dd)""".stripMargin
    }

    /** Residual-LUT value of a `sel` row for query elements `qe`:
      * CASE over the subspace, ‖(q − ct) slice − chosen codeword‖². */
    def lutCase(qe: Int => String): String = (0 until m).map { s =>
      def qr(j: Int) = s"(${qe(s * subDim + j)} - ct.c${s * subDim + j})"
      s"WHEN $s THEN ${OracleSql.l2sq(qr, j => s"sel.v$j", subDim)}"
    }.mkString("CASE sel.s ", " ", " END")

    val lSum: String = (1 until m).foldLeft("l0")((acc, s) => s"($acc + l$s)")
    val lutPivot: String =
      (0 until m).map(s => s"max(CASE WHEN s = $s THEN lut_d END) AS l$s").mkString(", ")
  }

  /** HASH-GATE of [[annIvfPqTopK]] — fixed top-8 probes, single query
    * ([[IvfPqOracleSql]]). */
  lazy val annIvfPqTopKSql: String = {
    import IvfPqOracleSql._
    val refineCut = 4 * 20
    s"""WITH $commonCtes,
       |probed AS (SELECT cluster_id FROM (
       |  SELECT cluster_id,
       |    row_number() OVER (ORDER BY
       |      ${OracleSql.cosineCols(i => s"cent.c$i", qL, d)} DESC,
       |      cluster_id ASC) AS rnk
       |  FROM cent) WHERE rnk <= 8),
       |lutd AS (SELECT sel.vec_id AS vec_id, sel.cluster_id AS cluster_id,
       |    sel.s AS s, ${lutCase(qL)} AS lut_d
       |  FROM sel JOIN cent ct ON ct.cluster_id = sel.cluster_id
       |  WHERE sel.ern = 1),
       |piv AS (SELECT vec_id, max(cluster_id) AS cluster_id,
       |    $lutPivot
       |  FROM lutd GROUP BY vec_id),
       |cand AS (SELECT vec_id FROM (
       |  SELECT piv.vec_id, row_number() OVER (ORDER BY -$lSum DESC, piv.vec_id ASC) AS crn
       |  FROM piv JOIN probed p ON p.cluster_id = piv.cluster_id) WHERE crn <= $refineCut)
       |SELECT e.vec_id AS vec_id,
       |  round(${OracleSql.cosineConst(OracleSql.listElem("e.embedding"), VectorModel.AnnQuery)}, 6) AS sim
       |FROM embeddings e JOIN cand c ON c.vec_id = e.vec_id
       |ORDER BY sim DESC, vec_id ASC LIMIT 20""".stripMargin
  }

  /** HASH-GATE of [[annIvfPqBatchTopK]] — the 3-query literal family
    * ([[VectorModel.syntheticQuery]]), fixed top-8 probes per query,
    * per-query LUT CASEs, the raw-adc cut, rounded-sim re-rank. */
  lazy val annIvfPqBatchTopKSql: String = {
    import IvfPqOracleSql._
    val qs = annBatchQueries(3)
    val refineCut = 4 * 5
    def qLitOf(q: Seq[Double])(i: Int) = OracleSql.lit(q(i))
    val probeCsim = qs.map { case (qid, q) =>
      s"WHEN $qid THEN ${OracleSql.cosineCols(i => s"cent.c$i", qLitOf(q), d)}"
    }.mkString("CASE qs.query_id ", " ", " END")
    val lutQCase = qs.map { case (qid, q) =>
      s"WHEN $qid THEN ${lutCase(qLitOf(q))}"
    }.mkString("CASE q.query_id ", " ", " END")
    val simCase = qs.map { case (qid, q) =>
      s"WHEN $qid THEN round(${OracleSql.cosineCols(i => OracleSql.listElem("e.embedding")(i), qLitOf(q), d)}, 6)"
    }.mkString("CASE c.query_id ", " ", " END")
    s"""WITH $commonCtes,
       |qs AS (SELECT unnest(generate_series(0, ${qs.size - 1})) AS query_id),
       |probedq AS (SELECT query_id, cluster_id FROM (
       |  SELECT qs.query_id, cent.cluster_id,
       |    row_number() OVER (PARTITION BY qs.query_id
       |      ORDER BY $probeCsim DESC, cent.cluster_id ASC) AS rnk
       |  FROM cent CROSS JOIN qs) WHERE rnk <= 8),
       |lutd AS (SELECT q.query_id AS query_id, sel.vec_id AS vec_id,
       |    sel.s AS s, $lutQCase AS lut_d
       |  FROM sel JOIN cent ct ON ct.cluster_id = sel.cluster_id
       |    CROSS JOIN qs q
       |    JOIN probedq pq ON pq.query_id = q.query_id AND pq.cluster_id = sel.cluster_id
       |  WHERE sel.ern = 1),
       |piv AS (SELECT query_id, vec_id,
       |    $lutPivot
       |  FROM lutd GROUP BY query_id, vec_id),
       |cand AS (SELECT query_id, vec_id FROM (
       |  SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY -$lSum DESC, vec_id ASC) AS crn
       |  FROM piv) WHERE crn <= $refineCut),
       |sc AS (SELECT c.query_id AS query_id, e.vec_id AS vec_id,
       |    $simCase AS sim
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id)
       |SELECT query_id, vec_id, sim, rn FROM (
       |  SELECT query_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rn
       |  FROM sc)
       |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin
  }

  /** HASH-GATE of [[annIvfPqBigBatchTopK]] — the query set is DATA (every
    * 256th embedding row), so the LUT terms are pure column references;
    * probes come from the ADAPTIVE candidate-mass walk (budget 16·5 = 80,
    * minProbes 3, sizes re-derived from the re-derived assignment);
    * the direct residual ADC is bit-identical to the LUT form. */
  lazy val annIvfPqBigBatchTopKSql: String = {
    import IvfPqOracleSql._
    val refineCut = 4 * 5
    def qbE(i: Int) = s"CAST(qb.qemb[${i + 1}] AS DOUBLE)"
    s"""WITH $commonCtes,
       |qb AS (SELECT vec_id AS query_id, embedding AS qemb
       |  FROM embeddings WHERE vec_id % 256 = 0),
       |sz AS (SELECT cluster_id, count(*) AS sz FROM asg GROUP BY cluster_id),
       |rankedc AS (SELECT qb.query_id AS query_id, cent.cluster_id AS cluster_id,
       |    ${OracleSql.cosineCols(i => s"cent.c$i", qbE, d)} AS csim,
       |    coalesce(sz.sz, 0) AS csz
       |  FROM qb CROSS JOIN cent LEFT JOIN sz ON sz.cluster_id = cent.cluster_id),
       |probedb AS (SELECT query_id, cluster_id FROM (
       |  SELECT query_id, cluster_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cluster_id ASC) AS rnk,
       |    coalesce(sum(csz) OVER (PARTITION BY query_id ORDER BY csim DESC, cluster_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
       |  FROM rankedc) WHERE cumb < 80 OR rnk <= 3),
       |lutd AS (SELECT qb.query_id AS query_id, sel.vec_id AS vec_id,
       |    sel.s AS s, ${lutCase(qbE)} AS lut_d
       |  FROM sel JOIN cent ct ON ct.cluster_id = sel.cluster_id
       |    CROSS JOIN qb
       |    JOIN probedb pb ON pb.query_id = qb.query_id AND pb.cluster_id = sel.cluster_id
       |  WHERE sel.ern = 1),
       |piv AS (SELECT query_id, vec_id,
       |    $lutPivot
       |  FROM lutd GROUP BY query_id, vec_id),
       |cand AS (SELECT query_id, vec_id FROM (
       |  SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY -$lSum DESC, vec_id ASC) AS crn
       |  FROM piv) WHERE crn <= $refineCut),
       |sc AS (SELECT c.query_id AS query_id, e.vec_id AS vec_id,
       |    round(${OracleSql.cosineCols(i => OracleSql.listElem("e.embedding")(i), qbE, d)}, 6) AS sim
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
       |    JOIN qb ON qb.query_id = c.query_id)
       |SELECT query_id, vec_id, sim, rn FROM (
       |  SELECT query_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rn
       |  FROM sc)
       |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin
  }

  /** Build-once/serve-many IVF-PQ layout (fit + encode + clustered write),
    * memoized per dataset dir; exposed as a Bench build step. */
  private[graft] def ivfPqLayout(spark: SparkSession, dir: String)
      : (String, graft.index.IvfPq.IvfPqModel) =
    ivfPqLayoutCache.computeIfAbsent(dir, _ => {
      val emb = VectorModel.embeddings(spark, dir)
      val (_, model) = graft.index.IvfPq.build(emb, VectorModel.EmbDim,
        vecCol = "embedding", idCol = "vec_id")
      val path = graft.store.Fs.scratchDir(spark, "graft_ivfpq_layout")
      // re-encode without the widen exchange — see ivfLayout
      Ivf.saveClustered(
        graft.index.IvfPq.encode(emb, model, vecCol = "embedding", idCol = "vec_id"),
        path)
      // the oracle's sidecars are build-time state like the layout
      publishIvfPqSidecars(spark, dir, model)
      (path, model)
    })

  private val ivfPqLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, graft.index.IvfPq.IvfPqModel)]()

  /** Deterministic EmbDim query batch for the embeddings table (the
    * RecallSpec fixture shape — pure function of the index). */
  private[graft] def annBatchQueries(n: Int): Seq[(Long, Seq[Double])] =
    (0 until n).map(s =>
      (s.toLong, VectorModel.syntheticQuery(s)))

  /** S4 with method=ivfpq over the PERSISTED code layout — the composed
    * batch scale path: every query's probed clusters union into one
    * pruned ADC scan of m-byte codes, candidates truncate map-side via
    * the k-bounded aggregator, and refine re-ranks exactly against raw
    * vectors ([[graft.index.IvfPq.batchSearch]]). */
  def annIvfPqBatchTopK(spark: SparkSession, dir: String): DataFrame = {
    val (path, model) = ivfPqLayout(spark, dir)
    publishIvfPqSidecars(spark, dir, model) // repair no-op unless dir switched / root lost
    val encoded = spark.read.parquet(path)
    val emb = spark.read.parquet(vecByIdLayout(spark, dir))
      .withColumn("embedding", col("embedding").cast("array<double>"))
    graft.index.IvfPq.batchSearch(encoded, model, annBatchQueries(3), 5,
      Ivf.defaultRule(model.ivf), refineFrom = emb, vecCol = "embedding", idCol = "vec_id")
      .orderBy("query_id", "rn")
  }

  /** IVF-PQ big batch — see [[ivfBigBatchTopK]]: queries stay a
    * DataFrame (1/256 of the embeddings), probe lists from the adaptive
    * per-row kernel over the code layout's cluster sizes, ADC scores
    * from the LUT-free direct kernel, exact shuffle-join refine.
    * Parity with the collected LUT path is BigBatchSpec-gated. */
  def annIvfPqBigBatchTopK(spark: SparkSession, dir: String): DataFrame = {
    val (path, model) = ivfPqLayout(spark, dir)
    publishIvfPqSidecars(spark, dir, model) // repair no-op unless dir switched / root lost
    val encoded = spark.read.parquet(path)
    val emb = VectorModel.embeddings(spark, dir)
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val qdf = emb.where(pmod(col("vec_id"), lit(256)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    graft.index.IvfPq.bigBatchSearch(encoded, model, qdf, 5,
      Ivf.Adaptive(ivfPqSizes(spark, dir)), refineFrom = emb, vecCol = "embedding",
      idCol = "vec_id")
      .orderBy("query_id", "rn")
  }

  /** Per-cluster row counts of the code layout (the adaptive-probing
    * statistic, memoized beside it — see [[ivfSizes]]). */
  private[graft] def ivfPqSizes(spark: SparkSession, dir: String): Map[Int, Long] =
    ivfPqSizesCache.computeIfAbsent(dir, _ => {
      val (path, _) = ivfPqLayout(spark, dir)
      graft.index.Ivf.clusterSizes(spark.read.parquet(path))
    })

  private val ivfPqSizesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, Long]]()

  /** Sign-LSH bucketed ANN over embeddings (training-free scale path):
    * independent mean-centered tables with query-directed multi-probe,
    * served from the PERSISTED inverted-list layout — the probe disjunction
    * is a pure partition-column predicate, so unprobed bucket dirs prune at
    * the file level (PartitionFilters, like the routed-HNSW plan) instead
    * of re-bucketing the corpus per query. RecallSpec gates the operating
    * point (recall ≥ 0.7 at ≤ 0.4 scanned) and stored==in-memory parity. */
  def annLshTopK(spark: SparkSession, dir: String): DataFrame = {
    val (path, model) = lshLayout(spark, dir)
    publishLshPlanes(spark, dir, model) // repair no-op unless dir switched / root lost
    LshAnn.searchStored(lshFrame(spark, path), model,
      VectorModel.AnnQuery, 20, LshAnn.Adaptive(lshSizes(spark, dir)),
      vecCol = "embedding", idCol = "vec_id")
      .select("vec_id", "sim")
  }

  /** Shared SQL scaffolding of the sign-LSH oracles — GIVEN the published
    * plane/bias sidecar, the collected serving paths are closed-form:
    * per-row bucket bits (`v·p > bias` — an order-free INTEGER sum of
    * 1<<b terms), query margins (`p·q − bias`: IEEE-commutative dot, so
    * one mirror serves both sides), the ≤[[LshAnn.MaxFlips]]-bit mask
    * enumeration ranked per table by (summed |margin| of flipped bits,
    * mask) and truncated to the per-table probe cap, the cross-table merge
    * ordered by (cost, table, bucket) with the candidate-mass stop —
    * taken iff per-table head OR the plain cumulative size of preceding
    * stream entries is under the budget (equivalent to the engine's
    * taken-only accumulation: before the budget crossing every entry IS
    * taken, and after it the cumulative only grows) — the pointer-dedup
    * candidate union, and the rounded-cosine re-rank. */
  private object LshOracleSql {
    val d: Int = VectorModel.EmbDim
    val bits = 10 // LshAnn.DefaultBits — the layout's build parameter
    val maxFlips: Int = LshAnn.MaxFlips
    val probeCap: Int = LshAnn.DefaultProbes
    private def pE(i: Int) = s"pl.p$i"
    private def eE(i: Int) = OracleSql.listElem("e.embedding")(i)

    val plCte: String =
      s"""pl AS (SELECT CAST(t AS INTEGER) AS t, CAST(b AS INTEGER) AS b, bias,
         |    ${(0 until d).map(j => s"p$j").mkString(", ")}
         |  FROM ${OracleSidecars.sqlTable("lsh_planes")})""".stripMargin

    /** Per-(row, table) data bucket + per-(table, bucket) sizes — the
      * re-derived layout state. */
    val rbCtes: String =
      s"""rb AS (SELECT e.vec_id AS vec_id, pl.t AS t,
         |    CAST(sum(CASE WHEN ${OracleSql.dot(eE, pE, d)} > pl.bias
         |      THEN (1 << pl.b) ELSE 0 END) AS INTEGER) AS bucket
         |  FROM embeddings e CROSS JOIN pl GROUP BY e.vec_id, pl.t),
         |sz AS (SELECT t, bucket, count(*) AS sz FROM rb GROUP BY t, bucket)""".stripMargin

    /** Margins of `qe` against every (table, bit) plane. Emits `(qkey, t,
      * b, mg)` — `qkeySel` supplies the per-query key columns (empty for
      * the single-query mirror). */
    def qmgCte(qkeySel: String, from: String, mgExpr: String): String =
      s"""qmg AS (SELECT $qkeySel pl.t AS t, pl.b AS b, $mgExpr AS mg
         |  FROM $from)""".stripMargin

    /** The walk from margins to probed (t, bucket): query bucket, margin
      * pivot, mask enumeration, per-table (cost, mask) rank cut, merged
      * (cost, t, bucket) cumulative-mass stop. `pby` partitions every
      * window by the query key (empty string for single-query). */
    def walkCtes(qkey: String, budget: Long): String = {
      val pby = if (qkey.isEmpty) "" else s"PARTITION BY $qkey "
      val qsel = if (qkey.isEmpty) "" else s"$qkey, "
      val costExpr = (0 until bits)
        .map(b => s"CASE WHEN (m >> $b) & 1 = 1 THEN abs(mg$b) ELSE 0 END")
        .mkString(" + ")
      val wqsel = if (qkey.isEmpty) "" else s"withb.$qkey AS $qkey, "
      s"""qb AS (SELECT ${qsel}t,
         |    CAST(sum(CASE WHEN mg > 0 THEN (1 << b) ELSE 0 END) AS INTEGER) AS qb
         |  FROM qmg GROUP BY ${qsel}t),
         |mgp AS (SELECT ${qsel}t,
         |    ${(0 until bits).map(b => s"max(CASE WHEN b = $b THEN mg END) AS mg$b").mkString(", ")}
         |  FROM qmg GROUP BY ${qsel}t),
         |stream AS (SELECT ${if (qkey.isEmpty) "" else s"mgp.$qkey AS $qkey, "}mgp.t AS t, ms.m AS m,
         |    ($costExpr) AS cost
         |  FROM mgp CROSS JOIN (
         |    SELECT CAST(unnest(generate_series(0, ${(1 << bits) - 1})) AS INTEGER) AS m) ms
         |  WHERE bit_count(ms.m) <= $maxFlips),
         |ranked AS (SELECT *,
         |    row_number() OVER (PARTITION BY ${qsel}t ORDER BY cost ASC, m ASC) AS rr
         |  FROM stream),
         |withb AS (SELECT ${if (qkey.isEmpty) "" else s"r.$qkey AS $qkey, "}r.t AS t,
         |    xor(qb.qb, r.m) AS bucket, r.cost AS cost, r.rr AS rr
         |  FROM (SELECT * FROM ranked WHERE rr <= $probeCap) r
         |    JOIN qb ON qb.t = r.t${if (qkey.isEmpty) "" else s" AND qb.$qkey = r.$qkey"}),
         |merged AS (SELECT ${wqsel}withb.t AS t, withb.bucket AS bucket, withb.rr AS rr,
         |    coalesce(sum(coalesce(sz.sz, 0)) OVER (${pby}ORDER BY withb.cost ASC, withb.t ASC, withb.bucket ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
         |  FROM withb LEFT JOIN sz ON sz.t = withb.t AND sz.bucket = withb.bucket),
         |probed AS (SELECT ${qsel}t, bucket FROM merged WHERE rr = 1 OR cumb < $budget)""".stripMargin
    }
  }

  /** HASH-GATE of [[annLshTopK]] — the single-query adaptive stored
    * serve at budget 35·20 = 700 ([[LshOracleSql]]). */
  lazy val annLshTopKSql: String = {
    import LshOracleSql._
    val mgExpr = s"(${OracleSql.dot(i => s"pl.p$i", i => OracleSql.lit(VectorModel.AnnQuery(i)), d)} - pl.bias)"
    s"""WITH $plCte,
       |$rbCtes,
       |${qmgCte("", "pl", mgExpr)},
       |${walkCtes("", 700L)},
       |cand AS (SELECT DISTINCT rb.vec_id AS vec_id
       |  FROM rb JOIN probed p ON p.t = rb.t AND p.bucket = rb.bucket)
       |SELECT e.vec_id AS vec_id,
       |  round(${OracleSql.cosineConst(OracleSql.listElem("e.embedding"), VectorModel.AnnQuery)}, 6) AS sim
       |FROM embeddings e JOIN cand c ON c.vec_id = e.vec_id
       |ORDER BY sim DESC, vec_id ASC LIMIT 20""".stripMargin
  }

  /** HASH-GATE of [[annLshBatchTopK]] — the 3-query literal family at
    * budget 140·5 = 700; per-query walks partitioned by query_id, the
    * aggregator ranks the ROUNDED sim like the batch path. */
  lazy val annLshBatchTopKSql: String = {
    import LshOracleSql._
    val qs = annBatchQueries(3)
    val mgCase = qs.map { case (qid, q) =>
      s"WHEN $qid THEN (${OracleSql.dot(i => s"pl.p$i", i => OracleSql.lit(q(i)), d)} - pl.bias)"
    }.mkString("CASE qs.query_id ", " ", " END")
    val simCase = qs.map { case (qid, q) =>
      s"WHEN $qid THEN round(${OracleSql.cosineCols(i => OracleSql.listElem("e.embedding")(i), i => OracleSql.lit(q(i)), d)}, 6)"
    }.mkString("CASE c.query_id ", " ", " END")
    s"""WITH $plCte,
       |$rbCtes,
       |qs AS (SELECT unnest(generate_series(0, ${qs.size - 1})) AS query_id),
       |${qmgCte("qs.query_id AS query_id,", "pl CROSS JOIN qs", mgCase)},
       |${walkCtes("query_id", 700L)},
       |cand AS (SELECT DISTINCT p.query_id AS query_id, rb.vec_id AS vec_id
       |  FROM rb JOIN probed p ON p.t = rb.t AND p.bucket = rb.bucket)
       |SELECT query_id, vec_id, sim, rn FROM (
       |  SELECT c.query_id AS query_id, e.vec_id AS vec_id,
       |    $simCase AS sim,
       |    row_number() OVER (PARTITION BY c.query_id
       |      ORDER BY $simCase DESC, e.vec_id ASC) AS rn
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id)
       |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin
  }

  /** HASH-GATE of [[lshBigBatchTopK]] — the margin-ranked ADAPTIVE
    * big-batch walk at budget 234·3 = 702: the LshProbeKernel's walk
    * (per-table (cost, mask) rank cut, merged (cost, table, bucket)
    * order, taken rule) is the one every LSH serve resolves with, and the
    * query set is DATA rows (every 16th embedding), so the margin terms
    * are pure column references; the serve's pointer-dedup candidates
    * re-rank by the pre-rounded cosine. */
  lazy val annLshBigBatchTopKSql: String = {
    import LshOracleSql._
    def qvE(i: Int) = s"CAST(qv.qemb[${i + 1}] AS DOUBLE)"
    val mgExpr = s"(${OracleSql.dot(i => s"pl.p$i", qvE, d)} - pl.bias)"
    s"""WITH $plCte,
       |$rbCtes,
       |qv AS (SELECT vec_id AS query_id, embedding AS qemb
       |  FROM embeddings WHERE vec_id % 16 = 0),
       |${qmgCte("qv.query_id AS query_id,", "pl CROSS JOIN qv", mgExpr)},
       |${walkCtes("query_id", 702L)},
       |cand AS (SELECT DISTINCT p.query_id AS query_id, rb.vec_id AS vec_id
       |  FROM rb JOIN probed p ON p.t = rb.t AND p.bucket = rb.bucket)
       |SELECT query_id, vec_id, sim, rn FROM (
       |  SELECT c.query_id AS query_id, e.vec_id AS vec_id,
       |    round(${OracleSql.cosineCols(i => OracleSql.listElem("e.embedding")(i), qvE, d)}, 6) AS sim,
       |    row_number() OVER (PARTITION BY c.query_id ORDER BY
       |      round(${OracleSql.cosineCols(i => OracleSql.listElem("e.embedding")(i), qvE, d)}, 6) DESC,
       |      e.vec_id ASC) AS rn
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
       |    JOIN qv ON qv.query_id = c.query_id)
       |WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin
  }

  /** S4 for sign-LSH over the persisted layout: the whole query set in ONE
    * job — the union of every query's probed (table, bucket) dirs prunes
    * the scan ([[graft.index.LshAnn.batchSearchStored]]); per-query
    * candidate semantics equal the single-query stored path. */
  def annLshBatchTopK(spark: SparkSession, dir: String): DataFrame = {
    val (path, model) = lshLayout(spark, dir)
    publishLshPlanes(spark, dir, model) // repair no-op unless dir switched / root lost
    // overscan 140 at k=5 = the same 700-row candidate-mass target as the
    // single-query default (35·20): LSH recall tracks MASS, not k (the
    // DevLshTune k=10/k=20 curves coincide at equal mass — RECALL.md
    // round 9), so the budget is held constant across the k regimes
    LshAnn.batchSearchStored(lshFrame(spark, path), model,
      annBatchQueries(3), 5, LshAnn.Adaptive(lshSizes(spark, dir), 140),
      vecCol = "embedding", idCol = "vec_id")
      .orderBy("query_id", "rn")
  }

  /** Build-once/serve-many LSH inverted-list layout (bucket + single-copy
    * payload + pointer tables, partitioned write + model sidecar), memoized
    * per dataset dir as (path, model) — like the sibling layout caches, the
    * frame is re-read per call so a session restart in the same JVM serves
    * cleanly; a Bench build step. */
  private[graft] def lshLayout(spark: SparkSession, dir: String)
      : (String, LshAnn.LshTables) =
    lshLayoutCache.computeIfAbsent(dir, _ => {
      val p = graft.store.Fs.scratchDir(spark, "graft_lsh_layout")
      val model = LshAnn.saveBucketed(VectorModel.embeddings(spark, dir),
        "embedding", "vec_id", s"$p/t", VectorModel.EmbDim)
      // open the layout for serving HERE: creating the read frame lists
      // the ~L·2^bits partition dirs (~5 s at sf0.1) — amortized build
      // work, not per-query serving work
      lshFrame(spark, s"$p/t")
      // the oracle's plane/bias sidecar is build-time state like the layout
      publishLshPlanes(spark, dir, model)
      (s"$p/t", model)
    })

  /** The LSH oracle's sidecar: every (table, bit) hyperplane with its
    * bias — L·numBits rows of (t, b, bias, p0..p{dim−1}). */
  private def publishLshPlanes(spark: SparkSession, dir: String,
      model: LshAnn.LshTables): Unit =
    OracleSidecars.publish(spark, "lsh_planes", dir) {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val dim = VectorModel.EmbDim
      val schema = StructType(
        Seq(StructField("t", IntegerType, nullable = false),
          StructField("b", IntegerType, nullable = false),
          StructField("bias", DoubleType, nullable = false)) ++
          (0 until dim).map(j => StructField(s"p$j", DoubleType, nullable = false)))
      val rows = for {
        t <- model.planes.indices
        b <- model.planes(t).indices
      } yield Row.fromSeq(t +: b +: model.biases(t)(b) +: model.planes(t)(b).toSeq)
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
    }

  private val lshLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, LshAnn.LshTables)]()

  /** Per-(table, bucket) row counts of the stored LSH layout — the
    * adaptive probe walk's mass statistic ([[graft.index.LshAnn.bucketSizes]]),
    * memoized beside the layout like [[ivfSizes]] (one count-pushdown
    * aggregate per dataset, warmed in the Bench build pre-phase). */
  private[graft] def lshSizes(spark: SparkSession, dir: String): Array[Array[Long]] =
    lshSizesCache.computeIfAbsent(dir, _ => {
      val (path, _) = lshLayout(spark, dir)
      LshAnn.bucketSizes(lshFrame(spark, path))
    })

  private val lshSizesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Long]]]()

  /** Memoized READ FRAME of an LSH layout. The layout's ~L·2^bits
    * partition dirs make a fresh `spark.read.parquet` re-list thousands of
    * dirs per serve (measured ~5 s at sf0.1 — 5× the query itself), so the
    * frame is reused across serves; it is REBUILT whenever the memoized
    * frame's session is not the caller's live session, which is the
    * session-restart failure the sibling path-only caches avoid. */
  private def lshFrame(spark: SparkSession, path: String): DataFrame =
    lshFrameCache.compute(path, (_, cached) =>
      if (cached != null && (cached.sparkSession eq spark) &&
          !spark.sparkContext.isStopped) cached
      else spark.read.parquet(path))

  private val lshFrameCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Deterministic trained-model memo: the quantizer for a dataset is a
    * pure function of (dir, params), so reusing it across queries is
    * semantics-preserving — the model-registry shape of a real deployment
    * (train once, serve many). */
  private val pqCache = new java.util.concurrent.ConcurrentHashMap[String, ProductQuantizer]()

  private def trainedPq(spark: SparkSession, dir: String): ProductQuantizer =
    pqCache.computeIfAbsent(dir, _ =>
      ProductQuantizer.train(VectorModel.embeddings(spark, dir),
        "embedding", "vec_id", VectorModel.EmbDim))

  /** PQ-ADC top-k over embeddings, served from the PERSISTED code table:
    * the scan reads m-byte stored codes — the whole point of PQ at scale —
    * instead of re-reading and re-encoding the full vector table per query
    * (the IVF-PQ path's lesson applied to plain ADC).
    *
    * HASH-GATED via the two-step oracle: the codebooks come from seeded
    * k-means (training legitimately spec-gated, PqSpec), but GIVEN the
    * trained codebooks — published as an [[OracleSidecars]] sidecar —
    * encode (per-subspace L2 argmin) and the ADC walk (query LUT,
    * negative summed distance) are closed-form arithmetic that
    * [[annPqAdcTopKSql]] mirrors term-for-term, the way SQ8/binary
    * already are. */
  def annPqAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    val pq = trainedPq(spark, dir)
    val codes = spark.read.parquet(pqCodesLayout(spark, dir))
    publishPqCodebook(spark, dir, pq) // repair no-op unless dir switched / root lost
    ProductQuantizer.adcTopK(codes, pq, VectorModel.AnnQuery, 20, "vec_id")
      .select("vec_id", "adc_score")
  }

  /** DuckDB mirror of [[annPqAdcTopK]] GIVEN the published codebook:
    * re-encodes every embedding (per-subspace argmin of the left-assoc
    * squared L2, ties to the lower code — [[ProductQuantizer.encode]]'s
    * strict `<`), computes the query LUT entry of each chosen centroid
    * the same way, and scores −(((l0+l1)+…)+l7) in subspace order
    * ([[graft.functions.AdcKernel.score]]'s accumulation). */
  /** Shared scaffolding of the PLAIN-PQ oracles (the codebook sidecar
    * schema, the per-(row, codeword) encode distance with its strict-<
    * ties-to-lower-code argmin base, and the subspace-ordered sum) — ONE
    * definition so the ADC and roundtrip mirrors cannot drift. */
  /** ADC-oracle scaffold shared by the plain-PQ and OPQ mirrors — ONE
    * definition of the codebook CTE shape, the per-(row, codeword) encode
    * distance with its strict-< ties-to-lower-code argmin base, and the
    * subspace-ordered sum, parameterized only over the codebook sidecar
    * name and the row-vector accessor (plain: direct embedding indexing;
    * OPQ: the permuted-position columns). */
  private class AdcOracleSql(cbTable: String,
      val emb: Int => Int => String) {
    val m = 8
    val subDim: Int = VectorModel.EmbDim / m
    def cbv(j: Int) = s"cb.v$j"
    val cbCte: String =
      s"""cb AS (SELECT CAST(s AS INTEGER) AS s, CAST(c AS INTEGER) AS c,
         |    v0, v1, v2, v3, v4, v5, v6, v7
         |  FROM ${OracleSidecars.sqlTable(cbTable)})""".stripMargin
    val encD: String = (0 until m)
      .map(s => s"WHEN $s THEN ${OracleSql.l2sq(emb(s), cbv, subDim)}")
      .mkString("CASE cb.s ", " ", " END")
    def lutD(q: Int => Int => String): String = (0 until m)
      .map(s => s"WHEN $s THEN ${OracleSql.l2sq(q(s), cbv, subDim)}")
      .mkString("CASE cb.s ", " ", " END")
    val lSum: String = (1 until m).foldLeft("l0")((acc, s) => s"($acc + l$s)")

    /** The complete top-20 ADC mirror: per-(row, codeword) encode + LUT
      * distances over `rowsFrom`, argmin by (enc_d, c), pivot, −Σ in
      * subspace order. `prefixCtes` (possibly empty, trailing comma
      * included) supplies whatever the row accessor needs. */
    def adcQuery(prefixCtes: String, rowsFrom: String, rowId: String,
        q: Int => Int => String): String =
      s"""WITH $prefixCtes$cbCte,
         |dd AS (SELECT $rowId AS vec_id, cb.s AS s, cb.c AS c,
         |    $encD AS enc_d,
         |    ${lutD(q)} AS lut_d
         |  FROM $rowsFrom CROSS JOIN cb),
         |sel AS (SELECT vec_id, s, lut_d,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY enc_d ASC, c ASC) AS rn
         |  FROM dd),
         |piv AS (SELECT vec_id,
         |    ${(0 until m).map(s => s"max(CASE WHEN s = $s THEN lut_d END) AS l$s").mkString(", ")}
         |  FROM sel WHERE rn = 1 GROUP BY vec_id)
         |SELECT vec_id, round(-$lSum, 6) AS adc_score
         |FROM piv ORDER BY adc_score DESC, vec_id ASC LIMIT 20""".stripMargin
  }

  private object PqOracleSql extends AdcOracleSql("pq_codebook",
    s => j => s"CAST(e.embedding[${s * (VectorModel.EmbDim / 8) + j + 1}] AS DOUBLE)")

  lazy val annPqAdcTopKSql: String =
    PqOracleSql.adcQuery("", "embeddings e", "e.vec_id",
      s => j => OracleSql.lit(VectorModel.AnnQuery(s * PqOracleSql.subDim + j)))

  /** Build-once/serve-many plain-PQ code layout: train (memoized) + encode +
    * write the (id, m-byte code) table once, memoized per dataset dir; a
    * Bench build step. */
  private[graft] def pqCodesLayout(spark: SparkSession, dir: String): String =
    pqCodesLayoutCache.computeIfAbsent(dir, _ => {
      val p = graft.store.Fs.scratchDir(spark, "graft_pq_codes")
      val pq = trainedPq(spark, dir)
      ProductQuantizer.encodeDf(
          VectorModel.embeddings(spark, dir), pq, "embedding")
        .select("vec_id", "pq_code")
        .write.mode("overwrite").parquet(s"$p/codes")
      // the oracle's codebook sidecar is build-time state like the layout
      // itself — the write lands here; the serving entry re-calls publish
      // as a cheap repair no-op
      publishPqCodebook(spark, dir, pq)
      s"$p/codes"
    })

  private def publishPqCodebook(spark: SparkSession, dir: String,
      pq: ProductQuantizer): Unit =
    OracleSidecars.publish(spark, "pq_codebook", dir) {
      import spark.implicits._
      (for { s <- 0 until pq.m; c <- 0 until pq.k } yield {
        val v = pq.codebooks(s)(c)
        (s, c, v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7))
      }).toDF("s", "c", "v0", "v1", "v2", "v3", "v4", "v5", "v6", "v7")
    }

  private val pqCodesLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // ---- OPQ-P: variance-balanced dimension-permutation PQ ---------------

  /** Trained OPQ-P model: the balanced permutation ([[graft.pq.Opq]] —
    * greedy eigenvalue allocation over one variance aggregate) plus a PQ
    * trained on the PERMUTED vectors. Memoized like [[trainedPq]]; the
    * permutation application is an exact element reorder, so everything
    * downstream reuses the plain-PQ machinery verbatim. */
  private def trainedOpq(spark: SparkSession, dir: String)
      : (Array[Int], ProductQuantizer) =
    opqCache.computeIfAbsent(dir, _ => {
      val emb = VectorModel.embeddings(spark, dir)
      val perm = graft.pq.Opq.balancedPermutation(
        graft.pq.Opq.dimVariances(emb, "embedding", VectorModel.EmbDim), 8)
      val pdf = emb.withColumn("pemb",
        graft.pq.Opq.permuteCol(col("embedding"), perm))
      (perm, ProductQuantizer.train(pdf, "pemb", "vec_id", VectorModel.EmbDim))
    })

  private val opqCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Array[Int], ProductQuantizer)]()

  /** Build-once/serve-many OPQ code layout (a Bench build step): permute,
    * encode, persist (vec_id, m-byte code); sidecar publishes land here. */
  private[graft] def opqCodesLayout(spark: SparkSession, dir: String): String =
    opqCodesLayoutCache.computeIfAbsent(dir, _ => {
      val p = graft.store.Fs.scratchDir(spark, "graft_opq_codes")
      val (perm, pq) = trainedOpq(spark, dir)
      ProductQuantizer.encodeDf(
          VectorModel.embeddings(spark, dir).withColumn("pemb",
            graft.pq.Opq.permuteCol(col("embedding"), perm)),
          pq, "pemb")
        .select("vec_id", "pq_code")
        .write.mode("overwrite").parquet(s"$p/codes")
      publishOpqSidecars(spark, dir, perm, pq)
      s"$p/codes"
    })

  private val opqCodesLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def publishOpqSidecars(spark: SparkSession, dir: String,
      perm: Array[Int], pq: ProductQuantizer): Unit = {
    OracleSidecars.publish(spark, "opq_perm", dir) {
      import spark.implicits._
      perm.toSeq.zipWithIndex.map { case (j, p) => (p, j) }.toDF("p", "j")
    }
    OracleSidecars.publish(spark, "opq_codebook", dir) {
      import spark.implicits._
      (for { s <- 0 until pq.m; c <- 0 until pq.k } yield {
        val v = pq.codebooks(s)(c)
        (s, c, v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7))
      }).toDF("s", "c", "v0", "v1", "v2", "v3", "v4", "v5", "v6", "v7")
    }
  }

  /** OPQ-P ADC top-k over embeddings, served from the persisted permuted
    * code layout: the scan reads m-byte codes; the query permutes
    * driver-side (exact reorder) and the ADC walk is [[annPqAdcTopK]]'s.
    * HASH-GATED like the plain-PQ twin: GIVEN the published permutation
    * and codebook sidecars, every downstream step — the permuted row
    * vectors (pure element indexing), encode argmin, query LUT, the −Σ
    * subspace walk — is closed-form arithmetic [[annOpqAdcTopKSql]]
    * mirrors term-for-term. OpqSpec gates the training half (balanced
    * allocation, distortion ≤ plain PQ, strict win on skewed variance). */
  def annOpqAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    val (perm, pq) = trainedOpq(spark, dir)
    val codes = spark.read.parquet(opqCodesLayout(spark, dir))
    publishOpqSidecars(spark, dir, perm, pq) // repair no-op unless dir switched / root lost
    ProductQuantizer.adcTopK(codes, pq,
        graft.pq.Opq.permuteQuery(VectorModel.AnnQuery, perm), 20, "vec_id")
      .select("vec_id", "adc_score")
  }

  /** DuckDB mirror of [[annOpqAdcTopK]] GIVEN the published sidecars: the
    * permutation pivots to one row of 64 position columns, the permuted
    * row vectors and permuted query are pure list indexing through it (no
    * arithmetic — bit-identical by construction), and the encode/LUT/−Σ
    * walk is the SHARED [[AdcOracleSql]] scaffold over those columns, so
    * the argmin/tie-break/sum conventions cannot drift from the plain-PQ
    * mirror. */
  lazy val annOpqAdcTopKSql: String = {
    val d = VectorModel.EmbDim
    val opq = new AdcOracleSql("opq_codebook",
      s => j => s"pv.v${s * (d / 8) + j}")
    val ppCols = (0 until d)
      .map(p => s"max(CASE WHEN p = $p THEN j END) AS j$p").mkString(", ")
    val qList = VectorModel.AnnQuery.map(OracleSql.lit).mkString("[", ", ", "]")
    val prefix =
      s"""perm AS (SELECT CAST(p AS INTEGER) AS p, CAST(j AS INTEGER) AS j
         |  FROM ${OracleSidecars.sqlTable("opq_perm")}),
         |pp AS (SELECT $ppCols FROM perm),
         |pv AS (SELECT e.vec_id AS vec_id,
         |    ${(0 until d).map(p => s"CAST(e.embedding[pp.j$p + 1] AS DOUBLE) AS v$p").mkString(", ")}
         |  FROM embeddings e CROSS JOIN pp),
         |qv AS (SELECT
         |    ${(0 until d).map(p => s"($qList)[pp.j$p + 1] AS q$p").mkString(", ")}
         |  FROM pp),
         |""".stripMargin
    opq.adcQuery(prefix, "pv CROSS JOIN qv", "pv.vec_id",
      s => j => s"qv.q${s * opq.subDim + j}")
  }

  /** SQ8 model memo ([[graft.pq.ScalarQuantizer.fit]] — exact per-dim
    * min/max, a pure function of the dataset). */
  private val sqCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.pq.ScalarQuantizer]()

  private def trainedSq(spark: SparkSession, dir: String): graft.pq.ScalarQuantizer =
    sqCache.computeIfAbsent(dir, _ =>
      graft.pq.ScalarQuantizer.fit(
        VectorModel.embeddings(spark, dir), "embedding", VectorModel.EmbDim))

  /** Build-once/serve-many SQ8 code layout: fit (memoized) + encode + write
    * the (id, dim-byte code) table, memoized per dataset dir; a Bench build
    * step. */
  private[graft] def sqCodesLayout(spark: SparkSession, dir: String): String =
    sqCodesLayoutCache.computeIfAbsent(dir, _ => {
      val p = graft.store.Fs.scratchDir(spark, "graft_sq_codes")
      graft.pq.ScalarQuantizer.encodeDf(
          VectorModel.embeddings(spark, dir), trainedSq(spark, dir), "embedding")
        .select("vec_id", "sq_code")
        .write.mode("overwrite").parquet(s"$p/codes")
      s"$p/codes"
    })

  private val sqCodesLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** SQ8 quantized-cosine top-20 over STORED codes (64 B/row vs 256 B float
    * vectors — the scan reads 4× fewer bytes at near-exact accuracy).
    * Unlike every other quantized/ANN path this one is hash-gated: the
    * affine codec has an exact DuckDB mirror ([[annSqTopKSql]]). */
  def annSqTopK(spark: SparkSession, dir: String): DataFrame = {
    val sq = trainedSq(spark, dir)
    val codes = spark.read.parquet(sqCodesLayout(spark, dir))
    graft.pq.ScalarQuantizer.adcTopK(codes, sq, VectorModel.AnnQuery, 20, "vec_id")
      .select("vec_id", "sim")
  }

  val annSqTopKSql: String = {
    val sim = OracleSql.cosineCols(
      OracleSql.sqReconElem("embedding"),
      i => OracleSql.lit(VectorModel.AnnQuery(i)),
      VectorModel.EmbDim)
    s"""WITH ${OracleSql.sqMinMaxCte("embedding", "embeddings", VectorModel.EmbDim)}
       |SELECT vec_id, round($sim, 6) AS sim
       |FROM embeddings CROSS JOIN m
       |ORDER BY sim DESC, vec_id ASC LIMIT 20""".stripMargin
  }

  /** 1-bit binary-quantization model memo ([[graft.pq.BinaryQuantizer.fit]]
    * — exact per-dim midrange, a pure function of the dataset). */
  private val binCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.pq.BinaryQuantizer]()

  private def trainedBin(spark: SparkSession, dir: String): graft.pq.BinaryQuantizer =
    binCache.computeIfAbsent(dir, _ =>
      graft.pq.BinaryQuantizer.fit(
        VectorModel.embeddings(spark, dir), "embedding", VectorModel.EmbDim))

  /** Build-once/serve-many binary code layout: fit (memoized) + pack + write
    * the (id, packed words) table, memoized per dataset dir; a Bench build
    * step. */
  private[graft] def binCodesLayout(spark: SparkSession, dir: String): String =
    binCodesLayoutCache.computeIfAbsent(dir, _ => {
      val p = graft.store.Fs.scratchDir(spark, "graft_bin_codes")
      graft.pq.BinaryQuantizer.encodeDf(
          VectorModel.embeddings(spark, dir), trainedBin(spark, dir),
          "embedding", "vec_id")
        .write.mode("overwrite").parquet(s"$p/codes")
      s"$p/codes"
    })

  private val binCodesLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once/serve-many id-clustered (vec_id, embedding) layout — the
    * PRUNED re-rank fetch target of the two-stage codecs (binary, PCA):
    * range-partitioned + sorted by vec_id with a parquet bloom filter on
    * the id column ([[graft.search.IdFetch.writeIdClustered]]), so the
    * collected candidate ids push into the scan as `IN (…)` and a stats
    * reader touches row groups proportional to the candidate count, not
    * the corpus. Memoized per dataset dir; a Bench build step. */
  private[graft] def vecByIdLayout(spark: SparkSession, dir: String): String =
    vecByIdLayoutCache.computeIfAbsent(dir, _ => {
      val p = graft.store.Fs.scratchDir(spark, "graft_vec_by_id")
      graft.search.IdFetch.writeIdClustered(
        VectorModel.embeddings(spark, dir).select("vec_id", "embedding"),
        s"$p/vecs", "vec_id", numFiles = 32)
      s"$p/vecs"
    })

  private val vecByIdLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Hamming re-rank candidate budget — sized so the exact stage stays a
    * broadcast while the popcount stage is the only full scan. */
  val BinRerank = 100

  /** Binary-quantized top-20: popcount-XOR Hamming scan over STORED packed
    * codes (2 longs/row vs 64 floats — 32× fewer payload bits in stage 1),
    * exact cosine re-rank of the top-[[BinRerank]]. Hash-gated like
    * [[annSqTopK]]: the midrange sign codec is closed-form
    * ([[annBinTopKSql]]). */
  def annBinTopK(spark: SparkSession, dir: String): DataFrame = {
    val bq = trainedBin(spark, dir)
    val codes = spark.read.parquet(binCodesLayout(spark, dir))
    graft.pq.BinaryQuantizer.topK(codes,
      spark.read.parquet(vecByIdLayout(spark, dir)),
      bq, VectorModel.AnnQuery, 20, BinRerank, "vec_id", "embedding")
  }

  /** Midrange threshold / packed-word fragments of the binary-codec
    * mirrors — ONE definition shared by the single-query and batch
    * oracles. */
  private def binThresh(i: Int) = s"((m.mn$i + m.mx$i)/CAST('2.0' AS DOUBLE))"
  private def binWordSql(elem: Int => String, w: Int): String = {
    val dim = VectorModel.EmbDim
    val bits = math.min(32, dim - w * 32)
    val sum = (0 until bits).map { b =>
      val i = w * 32 + b
      s"(CASE WHEN ${elem(i)} > ${binThresh(i)} THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"CAST($sum AS BIGINT)"
  }
  private val BinWords = (VectorModel.EmbDim + 31) / 32

  /** Term-for-term mirror of the two-stage binary path: pack corpus AND
    * query bits against the midrange CTE, Hamming-cut to [[BinRerank]]
    * with the same (ham asc, id asc) tie-break, exact-cosine re-rank. */
  val annBinTopKSql: String = {
    val codeWords = (0 until BinWords)
      .map(w => s"${binWordSql(OracleSql.listElem("embedding"), w)} AS b$w")
      .mkString(",\n  ")
    val queryWords = (0 until BinWords)
      .map(w => s"${binWordSql(i => OracleSql.lit(VectorModel.AnnQuery(i)), w)} AS q$w")
      .mkString(",\n  ")
    val ham = (0 until BinWords).map(w => s"bit_count(xor(b$w, q$w))").mkString(" + ")
    val sim = OracleSql.cosineConst(
      OracleSql.listElem("e.embedding"), VectorModel.AnnQuery)
    s"""WITH ${OracleSql.sqMinMaxCte("embedding", "embeddings", VectorModel.EmbDim)},
       |codes AS (
       |  SELECT vec_id,
       |  $codeWords,
       |  $queryWords
       |  FROM embeddings CROSS JOIN m),
       |cand AS (
       |  SELECT vec_id, CAST($ham AS BIGINT) AS ham
       |  FROM codes ORDER BY ham ASC, vec_id ASC LIMIT $BinRerank)
       |SELECT c.vec_id AS vec_id, c.ham AS ham, round($sim, 6) AS sim
       |FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
       |ORDER BY sim DESC, vec_id ASC LIMIT 20""".stripMargin
  }

  /** HASH-GATE of [[annBinBatchTopK]] — the batch binary serve is the
    * same closed-form codec per query of the DETERMINISTIC query family
    * ([[annQueryBatch]]: literal vectors), so the mirror packs all 8
    * query word sets against the midrange CTE, Hamming-cuts per query
    * with the (ham asc, id asc) tie-break, and re-ranks by the rounded
    * exact cosine like the k-bounded aggregator does. */
  lazy val annBinBatchTopKSql: String = {
    val nq = 8
    val qs = annQueryBatch(nq)
    def eE(i: Int) = OracleSql.listElem("e.embedding")(i)
    val codeWords = (0 until BinWords)
      .map(w => s"${binWordSql(OracleSql.listElem("embedding"), w)} AS b$w")
      .mkString(",\n  ")
    val queryWords = qs.map { case (qid, q) =>
      (0 until BinWords)
        .map(w => s"${binWordSql(i => OracleSql.lit(q(i)), w)} AS q${qid}_$w")
        .mkString(",\n  ")
    }.mkString(",\n  ")
    val hamCase = qs.map { case (qid, _) =>
      val h = (0 until BinWords)
        .map(w => s"bit_count(xor(b$w, q${qid}_$w))").mkString(" + ")
      s"WHEN $qid THEN CAST($h AS BIGINT)"
    }.mkString("CASE qs.query_id ", " ", " END")
    val simCase = qs.map { case (qid, q) =>
      s"WHEN $qid THEN round(${OracleSql.cosineCols(eE, i => OracleSql.lit(q(i)), VectorModel.EmbDim)}, 6)"
    }.mkString("CASE c.query_id ", " ", " END")
    s"""WITH ${OracleSql.sqMinMaxCte("embedding", "embeddings", VectorModel.EmbDim)},
       |codes AS (
       |  SELECT vec_id,
       |  $codeWords
       |  FROM embeddings CROSS JOIN m),
       |qw AS (
       |  SELECT
       |  $queryWords
       |  FROM m),
       |qs AS (SELECT unnest(generate_series(0, ${nq - 1})) AS query_id),
       |hams AS (SELECT qs.query_id AS query_id, codes.vec_id AS vec_id,
       |    $hamCase AS ham
       |  FROM codes CROSS JOIN qw CROSS JOIN qs),
       |cand AS (SELECT query_id, vec_id FROM (
       |  SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY ham ASC, vec_id ASC) AS hrn
       |  FROM hams) WHERE hrn <= $BinRerank),
       |sc AS (SELECT c.query_id AS query_id, e.vec_id AS vec_id,
       |    $simCase AS sim
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id)
       |SELECT query_id, vec_id, sim, rn FROM (
       |  SELECT query_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rn
       |  FROM sc)
       |WHERE rn <= 20 ORDER BY query_id, rn""".stripMargin
  }

  /** Deterministic batch of embedding-space queries (the [[VectorModel
    * .AnnQuery]] formula family, one shifted variant per query id) — the
    * reference's query-list API shape for the embeddings-backed entries. */
  private[graft] def annQueryBatch(n: Int): Seq[(Long, Seq[Double])] =
    (0 until n).map(s => (s.toLong,
      (0 until VectorModel.EmbDim).map(i => ((i * 37 + 11 + s * 13) % 101) / 101.0)))

  /** S4 with method=binary over the persisted code layout: ONE Hamming
    * scan for the whole query set ([[graft.pq.BinaryQuantizer.batchTopK]])
    * — the codes are read once per batch, like the IVF-PQ ADC batch.
    * Hash-gated itself via [[annBinBatchTopKSql]] (the whole-batch scan
    * + rerank mirrored in SQL); batch==single parity additionally
    * BinSpec-gated. */
  def annBinBatchTopK(spark: SparkSession, dir: String): DataFrame = {
    val bq = trainedBin(spark, dir)
    val codes = spark.read.parquet(binCodesLayout(spark, dir))
    graft.pq.BinaryQuantizer.batchTopK(codes,
      spark.read.parquet(vecByIdLayout(spark, dir)), bq, annQueryBatch(8),
      20, BinRerank, "vec_id", "embedding")
      .orderBy("query_id", "rn")
  }

  // ---- PCA-reduced two-stage search --------------------------------------

  /** PCA model memo ([[graft.pq.Pca.fit]] — deterministic sample-bounded
    * covariance + power iteration; see Pca's determinism contract). */
  private val pcaCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.pq.Pca.Model]()

  private def trainedPca(spark: SparkSession, dir: String): graft.pq.Pca.Model =
    pcaCache.computeIfAbsent(dir, _ => {
      val m = graft.pq.Pca.fit(
        VectorModel.embeddings(spark, dir), "embedding",
        VectorModel.EmbDim, "vec_id")
      publishPcaSidecars(spark, dir, m)
      m
    })

  private def publishPcaSidecars(spark: SparkSession, dir: String,
      m: graft.pq.Pca.Model): Unit = {
    publishCentroidsFlat(spark, "pca_mean", dir, Array(m.mean))
    publishCentroidsFlat(spark, "pca_components", dir, m.components)
  }

  /** Build-once/serve-many projected layout: (vec_id, p0..p{R−1}) — the
    * coarse stage's scan reads [[graft.pq.Pca.R]]/dim of the float bytes;
    * memoized per dataset dir, a Bench build step. */
  private[graft] def pcaLayout(spark: SparkSession, dir: String): String =
    pcaLayoutCache.computeIfAbsent(dir, _ => {
      val m = trainedPca(spark, dir)
      val p = graft.store.Fs.scratchDir(spark, "graft_pca")
      VectorModel.embeddings(spark, dir)
        .select(col("vec_id") +: graft.pq.Pca.projectionCols(col("embedding"), m): _*)
        .write.mode("overwrite").parquet(s"$p/proj")
      s"$p/proj"
    })

  private val pcaLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Subspace re-rank candidate budget — the [[BinRerank]] convention. */
  val PcaRerank = 400

  /** PCA two-stage top-20: coarse L2 in the 16-d projected subspace over
    * the STORED reduced layout (4× fewer bytes than the float vectors —
    * and unlike the SQ8/binary codecs the projection PRESERVES the
    * dominant-variance geometry exactly), exact-cosine re-rank of the
    * top-[[PcaRerank]]. HASH-GATED like [[annSqTopK]]: given the two
    * published sidecars (mean, components) every projection / coarse /
    * re-rank sum is a fixed left-associated chain [[annPcaTopKSql]]
    * re-derives term-for-term from the RAW embeddings — fit is spec-gated
    * (PcaSpec), serving is exact closed-form. */
  def annPcaTopK(spark: SparkSession, dir: String): DataFrame = {
    val m = trainedPca(spark, dir)
    publishPcaSidecars(spark, dir, m) // repair no-op unless dir switched
    val projected = spark.read.parquet(pcaLayout(spark, dir))
    graft.pq.Pca.topK(projected,
      spark.read.parquet(vecByIdLayout(spark, dir)), m,
      VectorModel.AnnQuery, 20, PcaRerank, "vec_id", "embedding")
  }

  /** Term-for-term mirror of the PCA path GIVEN the sidecars: the mean
    * row and each component row join in as single-row CTEs (so every
    * coefficient is a column, keeping the 64-term projection sums in
    * the engine's exact left-associated order — a SQL aggregate would
    * sum in scan order), the query projects from its literals through
    * the same chain, the coarse cut keeps (d2 asc, id asc) top-[[PcaRerank]], and
    * the re-rank is the shared rounded-cosine convention. */
  /** Shared scaffolding of the PCA mirrors: the safe-norm spelling, the
    * mean/component single-row CTEs (pm, k0..k{R−1}) + their cross-join
    * tail, the corpus-projection CTEs (nv, proj), and the per-component
    * projection-chain builder — ONE definition composed by
    * [[annPcaTopKSql]] and [[annPcaBatchTopKSql]] so the two cannot
    * drift. */
  private object PcaOracleSql {
    val d: Int = VectorModel.EmbDim
    val R: Int = graft.pq.Pca.R
    private def m(i: Int) = s"pm.c$i"
    private def kc(r: Int, i: Int) = s"k$r.c$i"
    def safeNorm(elem: Int => String): String = {
      val n = s"sqrt(${OracleSql.normSq(elem, d)})"
      s"CASE WHEN $n = CAST('0.0' AS DOUBLE) THEN CAST('1.0' AS DOUBLE) ELSE $n END"
    }
    def projSql(elem: Int => String, r: Int): String =
      (0 until d).map(i => s"((${elem(i)} - ${m(i)}) * ${kc(r, i)})")
        .mkString(" + ")
    val crossK: String = (0 until R).map(r => s"CROSS JOIN k$r").mkString(" ")
    /** `pm, k0.., nv, proj` — the sidecar rows and the corpus projections. */
    def corpusCtes: String = {
      val kCtes = (0 until R).map(r =>
        s"k$r AS (SELECT * FROM ${OracleSidecars.sqlTable("pca_components")} WHERE cluster_id = $r)")
        .mkString(",\n")
      val eProj = (0 until R)
        .map(r => s"(${projSql(i => s"(${OracleSql.listElem("nv.embedding")(i)} / nv.nrm)", r)}) AS p$r")
        .mkString(",\n    ")
      s"""pm AS (SELECT * FROM ${OracleSidecars.sqlTable("pca_mean")}),
         |$kCtes,
         |nv AS (SELECT vec_id, embedding,
         |    ${safeNorm(OracleSql.listElem("embedding"))} AS nrm
         |  FROM embeddings),
         |proj AS (SELECT nv.vec_id AS vec_id,
         |    $eProj
         |  FROM nv CROSS JOIN pm $crossK)""".stripMargin
    }
    def d2Sql(qp: String): String = (0 until R)
      .map(r => s"(proj.p$r - $qp.q$r)*(proj.p$r - $qp.q$r)").mkString(" + ")
  }

  lazy val annPcaTopKSql: String = {
    import PcaOracleSql._
    def qLit(i: Int) = OracleSql.lit(VectorModel.AnnQuery(i))
    val qProj = (0 until R)
      .map(r => s"(${projSql(i => s"(${qLit(i)} / qn.nrm)", r)}) AS q$r")
      .mkString(",\n    ")
    val sim = OracleSql.cosineConst(
      OracleSql.listElem("e.embedding"), VectorModel.AnnQuery)
    s"""WITH $corpusCtes,
       |qn AS (SELECT ${safeNorm(qLit)} AS nrm),
       |qp AS (SELECT
       |    $qProj
       |  FROM qn CROSS JOIN pm $crossK),
       |cand AS (SELECT vec_id FROM (
       |    SELECT proj.vec_id AS vec_id, ${d2Sql("qp")} AS d2
       |    FROM proj CROSS JOIN qp)
       |  ORDER BY d2 ASC, vec_id ASC LIMIT $PcaRerank)
       |SELECT e.vec_id AS vec_id, round($sim, 6) AS sim
       |FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id
       |ORDER BY sim DESC, vec_id ASC LIMIT 20""".stripMargin
  }

  /** S4 with method=pca over the stored reduced layout: ONE coarse scan
    * for the whole deterministic query set ([[graft.pq.Pca.batchTopK]]).
    * Hash-gated via [[annPcaBatchTopKSql]]; batch==single parity is
    * additionally PcaSpec-gated. */
  def annPcaBatchTopK(spark: SparkSession, dir: String): DataFrame = {
    val m = trainedPca(spark, dir)
    publishPcaSidecars(spark, dir, m) // repair no-op unless dir switched
    val projected = spark.read.parquet(pcaLayout(spark, dir))
    graft.pq.Pca.batchTopK(projected,
      spark.read.parquet(vecByIdLayout(spark, dir)), m,
      annQueryBatch(8), 20, PcaRerank, "vec_id", "embedding")
  }

  /** Term-for-term mirror of the batch PCA path GIVEN the sidecars: the
    * query set lands as ONE flat-column CTE (ql: query_id, l0..l63), so
    * the 16 × 64-term projection chains are written ONCE and evaluate per
    * query row — then the same per-query (d2 asc, id asc) cut and
    * raw-cosine re-rank rank the [[annPcaTopKSql]] single path uses,
    * partitioned by query_id. */
  lazy val annPcaBatchTopKSql: String = {
    import PcaOracleSql._
    val qs = annQueryBatch(8)
    val qlRows = qs.map { case (qid, q) =>
      s"SELECT CAST($qid AS BIGINT) AS query_id, " +
        (0 until d).map(i => s"${OracleSql.lit(q(i))} AS l$i").mkString(", ")
    }.mkString("\n  UNION ALL ")
    def lE(i: Int) = s"ql.l$i"
    def lE2(i: Int) = s"q2.l$i"
    val qProj = (0 until R)
      .map(r => s"(${projSql(i => s"((${lE(i)}) / qn.nrm)", r)}) AS q$r")
      .mkString(",\n    ")
    val sim = OracleSql.cosineCols(
      OracleSql.listElem("e.embedding"), lE2, d)
    s"""WITH $corpusCtes,
       |ql AS ($qlRows),
       |qn AS (SELECT query_id, ${safeNorm(lE)} AS nrm FROM ql),
       |qp AS (SELECT ql.query_id AS query_id,
       |    $qProj
       |  FROM ql JOIN qn USING (query_id) CROSS JOIN pm $crossK),
       |cand AS (SELECT query_id, vec_id FROM (
       |    SELECT qp.query_id AS query_id, proj.vec_id AS vec_id,
       |      row_number() OVER (PARTITION BY qp.query_id
       |        ORDER BY ${d2Sql("qp")} ASC, proj.vec_id ASC) AS crn
       |    FROM proj CROSS JOIN qp)
       |  WHERE crn <= $PcaRerank)
       |SELECT query_id, vec_id, sim, rn FROM (
       |  SELECT c.query_id AS query_id, e.vec_id AS vec_id,
       |    round($sim, 6) AS sim,
       |    row_number() OVER (PARTITION BY c.query_id
       |      ORDER BY $sim DESC, e.vec_id ASC) AS rn
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN ql q2 ON q2.query_id = c.query_id)
       |WHERE rn <= 20 ORDER BY query_id, rn""".stripMargin
  }

  /** S4 at QUERY-SET scale — the DataFrame-native big-batch paths: the
    * query set is a DataFrame end-to-end (here ~1/16 of the part table,
    * growing with SF), probe assignment happens in codegen'd expressions,
    * and every join shuffles — nothing query-sized is collected or
    * broadcast, so these are the entries that survive query sets past the
    * driver/broadcast ceiling. Exact parity with the collected batch
    * paths is gated by BigBatchSpec on a 10k-query set. nProbes=2 is the
    * throughput operating point ([[graft.index.Ivf.knnJoin]]'s default);
    * the collected entries keep the reference's probe-half rule. */
  def ivfBigBatchTopK(spark: SparkSession, dir: String): DataFrame = {
    val (path, model) = ivfLayout(spark, dir)
    publishIvfCentroids(spark, dir, model) // repair no-op unless dir switched / root lost
    // 1/64 of part. The probe list is the ADAPTIVE per-row kernel
    // (BigBatchSpec parity-gated): candidate volume is the cost driver —
    // a fixed nProbes=2 of 16 clusters scans 12.5% of the corpus PER
    // QUERY regardless of what the probed clusters hold. minProbes=2
    // keeps the balanced-layout operating point at the same 2-probe
    // boundary coverage as the old fixed budget (k-means-balanced
    // clusters satisfy the 16·k mass target after probe 1); under skew
    // the walk extends instead of starving.
    graft.index.Ivf.bigBatchSearch(spark.read.parquet(path), model,
      VectorModel.partQueriesBig(spark, dir, modulus = 64), 3,
      Ivf.Adaptive(ivfSizes(spark, dir), minProbes = 2))
      .orderBy("query_id", "rn")
  }

  /** S5 × S4 at query-set scale, HASH-GATED — the FILTERED big-batch IVF
    * path under the driver end to end (FilteredBigBatchSpec proves
    * cross-family parity; this entry puts one such path under the DuckDB
    * oracle). Probing uses the FIXED top-4 rule (`Ivf.Nearest(4)`) so
    * the whole serve is closed-form GIVEN the stored layout: the
    * [[OracleSidecars]] centroid sidecar lets the oracle re-derive
    * cluster assignment (L2 argmin), the probe ranking (centroid cosine,
    * ties to the lower id), the filter-first candidate set, and the
    * exact-cosine top-3 — [[ivfBigBatchFilteredSql]] mirrors each step
    * term-for-term. The adaptive-walk twin stays spec-gated
    * (`vq_ivf_bigbatch`). */
  def ivfBigBatchFilteredTopK(spark: SparkSession, dir: String): DataFrame = {
    val (path, model) = ivfLayout(spark, dir)
    publishIvfCentroids(spark, dir, model) // repair no-op unless dir switched / root lost
    graft.index.Ivf.bigBatchSearch(spark.read.parquet(path), model,
      VectorModel.partQueriesBig(spark, dir, modulus = 64), 3, Ivf.Nearest(4),
      filter = Some(col("category") === "R" && col("status") === "F"))
      .orderBy("query_id", "rn")
  }

  /** Shared SQL scaffolding of the IVF-family oracles: GIVEN the
    * published centroid sidecar, every serving rule of the family is
    * closed-form — cluster assignment (L2 argmin, ties to the lower id),
    * probe ranking (centroid cosine, ties to the lower id), the FIXED
    * top-n rule (`rnk <= n`) AND the ADAPTIVE candidate-mass walk
    * (`cumb < minCandidates OR rnk <= minProbes`: probe i is taken iff
    * the cumulative size of the probes BEFORE it is under the budget —
    * exactly the [[graft.index.Ivf.Adaptive]] walk's
    * `cum < massTarget || o < floor` stop in
    * [[graft.functions.IvfKernel.probes]], with cluster sizes re-derived
    * in SQL from the re-derived assignment), filtered
    * or not, single-query or per-query-partitioned. ONE definition so
    * the six mirrors cannot drift.
    *
    * KNOWN near-copies: the embeddings-family mirrors ([[annIvfTopKSql]],
    * [[IvfPqOracleSql]] and its big-batch probe window) re-instantiate
    * the assignment/probe shapes at table=embeddings, dim=64. A
    * (table, idCol, dim, sidecar) parameterization would fold them in;
    * deferred deliberately — every instance is hash-gate verified at
    * three SFs, which bounds the drift risk the folding would remove. */
  private object IvfOracleSql {
    private val d = VectorModel.Dim
    private def vE(i: Int) = s"a.v$i"
    private def cE(i: Int) = s"cent.c$i"
    private def qE(i: Int) = s"qb.q$i"

    val centCte: String =
      s"""cent AS (SELECT CAST(cluster_id AS INTEGER) AS cluster_id,
         |    ${(0 until d).map(j => s"c$j").mkString(", ")}
         |  FROM ${OracleSidecars.sqlTable("ivf_centroids")})""".stripMargin

    val asgCte: String =
      s"""asg AS (SELECT id, cluster_id FROM (
         |  SELECT a.id, cent.cluster_id,
         |    row_number() OVER (PARTITION BY a.id
         |      ORDER BY ${OracleSql.l2sq(cE, vE, d)} ASC, cent.cluster_id ASC) AS arn
         |  FROM v a CROSS JOIN cent) WHERE arn = 1)""".stripMargin

    val szCte: String =
      "sz AS (SELECT cluster_id, count(*) AS sz FROM asg GROUP BY cluster_id)"

    def qbCte(where: String): String =
      s"""qb AS (SELECT
         |  CAST(p_partkey AS BIGINT) AS query_id,
         |  CAST(p_size AS DOUBLE) AS q0,
         |  p_retailprice/CAST('100.0' AS DOUBLE) AS q1,
         |  CAST(p_partkey % 97 AS DOUBLE)/CAST('97.0' AS DOUBLE) AS q2,
         |  CAST(p_partkey % 89 AS DOUBLE)/CAST('89.0' AS DOUBLE) AS q3,
         |  CAST(p_partkey % 83 AS DOUBLE)/CAST('83.0' AS DOUBLE) AS q4,
         |  CAST('1.0' AS DOUBLE) AS q5, CAST('2.0' AS DOUBLE) AS q6, CAST('3.0' AS DOUBLE) AS q7
         |FROM part WHERE $where)""".stripMargin

    /** Single-query mirror of [[graft.index.Ivf.search]] under either rule:
      * one probe window, then the brute-force rule over probed clusters —
      * ranked by the ROUNDED sim like [[VectorSearch.bruteForceTopK]]. */
    def single(queryLits: Seq[Double], probeWhere: String, k: Int): String =
      s"""WITH ${OracleSql.vectorCte},
         |$centCte,
         |$asgCte,
         |$szCte,
         |rankedc AS (SELECT cent.cluster_id AS cluster_id,
         |    ${OracleSql.cosineCols(cE, i => OracleSql.lit(queryLits(i)), d)} AS csim,
         |    coalesce(sz.sz, 0) AS csz
         |  FROM cent LEFT JOIN sz USING (cluster_id)),
         |probed AS (SELECT cluster_id FROM (
         |  SELECT cluster_id,
         |    row_number() OVER (ORDER BY csim DESC, cluster_id ASC) AS rnk,
         |    coalesce(sum(csz) OVER (ORDER BY csim DESC, cluster_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
         |  FROM rankedc) WHERE $probeWhere)
         |SELECT id, sim, cluster_id FROM (
         |  SELECT a.id AS id,
         |    round(${OracleSql.cosineConst(vE, queryLits)}, 6) AS sim,
         |    asg.cluster_id AS cluster_id
         |  FROM v a JOIN asg ON asg.id = a.id
         |    JOIN probed p ON p.cluster_id = asg.cluster_id)
         |ORDER BY sim DESC, id ASC LIMIT $k""".stripMargin

    /** Batch mirror of [[graft.index.Ivf.batchSearch]] and
      * [[graft.index.Ivf.bigBatchSearch]]:
      * per-query probe windows, then the k-bounded aggregator rule —
      * ranked by the RAW sim, rounded for output, (query_id, id, sim,
      * rn) ordered by (query_id, rn). */
    def batch(qbWhere: String, probeWhere: String, k: Int,
        candWhere: String = ""): String = {
      val filt = if (candWhere.isEmpty) "" else s"\n  WHERE $candWhere"
      s"""WITH ${OracleSql.vectorCte},
         |${qbCte(qbWhere)},
         |$centCte,
         |$asgCte,
         |$szCte,
         |rankedc AS (SELECT qb.query_id AS query_id, cent.cluster_id AS cluster_id,
         |    ${OracleSql.cosineCols(cE, qE, d)} AS csim,
         |    coalesce(sz.sz, 0) AS csz
         |  FROM qb CROSS JOIN cent LEFT JOIN sz ON sz.cluster_id = cent.cluster_id),
         |probed AS (SELECT query_id, cluster_id FROM (
         |  SELECT query_id, cluster_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cluster_id ASC) AS rnk,
         |    coalesce(sum(csz) OVER (PARTITION BY query_id ORDER BY csim DESC, cluster_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
         |  FROM rankedc) WHERE $probeWhere),
         |sc AS (SELECT p.query_id AS query_id, a.id AS id,
         |    ${OracleSql.cosineCols(vE, qE, d)} AS sim_raw
         |  FROM probed p JOIN asg ON asg.cluster_id = p.cluster_id
         |    JOIN v a ON a.id = asg.id
         |    JOIN qb ON qb.query_id = p.query_id$filt)
         |SELECT query_id, id, round(sim_raw, 6) AS sim, rn FROM (
         |  SELECT query_id, id, sim_raw,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim_raw DESC, id ASC) AS rn
         |  FROM sc)
         |WHERE rn <= $k ORDER BY query_id, rn""".stripMargin
    }
  }

  /** DuckDB mirror of [[ivfBigBatchFilteredTopK]] — fixed 4 probes,
    * filter-first ([[IvfOracleSql]]). */
  lazy val ivfBigBatchFilteredSql: String = IvfOracleSql.batch(
    "p_partkey % 64 = 0", "rnk <= 4", 3,
    candWhere = "a.category = 'R' AND a.status = 'F'")

  /** Mirror of the FIXED-probe single-query serves ([[ivfTopK]] fits the
    * same seeded model [[ivfLayout]] persists, so both entries share the
    * published centroids): top-8 probe window + the brute rule. */
  lazy val ivfTopKSql: String =
    IvfOracleSql.single(VectorModel.Query, "rnk <= 8", 10)

  /** Mirror of the ADAPTIVE single-query serve ([[ivfStoredTopK]]):
    * candidate-mass walk at overscan·k = 160, minProbes 3. */
  lazy val ivfStoredTopKSql: String =
    IvfOracleSql.single(VectorModel.Query, "cumb < 160 OR rnk <= 3", 10)

  /** Mirror of the ADAPTIVE collected batch ([[ivfBatchTopK]]): per-query
    * mass walk at 16·3 = 48, minProbes 3. */
  lazy val ivfBatchTopKSql: String =
    IvfOracleSql.batch("p_partkey <= 5", "cumb < 48 OR rnk <= 3", 3)

  /** Mirror of the ADAPTIVE DataFrame-native big batch
    * ([[ivfBigBatchTopK]]): per-query-row mass walk at 48, minProbes 2 —
    * the codegen kernel's walk re-derived as a window. */
  lazy val ivfBigBatchSql: String =
    IvfOracleSql.batch("p_partkey % 64 = 0", "cumb < 48 OR rnk <= 2", 3)

  /** Mirror of the ADAPTIVE serve: re-derived assignment → per-cluster
    * sizes, centroids ranked by (query cosine DESC, id ASC), and the
    * candidate-mass walk as a cumulative window — probe i is taken iff
    * rank ≤ minProbes OR the plain cumulative size of the PRECEDING
    * ranked clusters is under the budget (equivalent to the engine's
    * taken-only accumulation: the walk never skips, so before the budget
    * crossing every entry IS taken — the `vq_ivf_bigbatch` argument). */
  lazy val annIvfTopKSql: String = {
    val d = VectorModel.EmbDim
    def cE(i: Int) = s"cent.c$i"
    def eE(i: Int) = OracleSql.listElem("a.embedding")(i)
    val budget = AnnIvfOverscan * AnnIvfTopKK.toLong
    s"""WITH cent AS (SELECT CAST(cluster_id AS INTEGER) AS cluster_id,
       |    ${(0 until d).map(j => s"c$j").mkString(", ")}
       |  FROM ${OracleSidecars.sqlTable("ivf_centroids_emb")}),
       |asg AS (SELECT vec_id, cluster_id FROM (
       |  SELECT a.vec_id, cent.cluster_id,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${OracleSql.l2sq(cE, eE, d)} ASC, cent.cluster_id ASC) AS arn
       |  FROM embeddings a CROSS JOIN cent) WHERE arn = 1),
       |sz AS (SELECT cluster_id, count(*) AS sz FROM asg GROUP BY cluster_id),
       |rk AS (SELECT cluster_id,
       |    row_number() OVER (ORDER BY
       |      ${OracleSql.cosineCols(cE, i => OracleSql.lit(VectorModel.AnnQuery(i)), d)} DESC,
       |      cluster_id ASC) AS rnk
       |  FROM cent),
       |wk AS (SELECT rk.cluster_id AS cluster_id, rk.rnk AS rnk,
       |    coalesce(sum(coalesce(sz.sz, 0)) OVER (ORDER BY rk.rnk ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM rk LEFT JOIN sz USING (cluster_id)),
       |probed AS (SELECT cluster_id FROM wk
       |  WHERE rnk <= $AnnIvfMinProbes OR cum < $budget)
       |SELECT vec_id, sim, cluster_id FROM (
       |  SELECT a.vec_id AS vec_id,
       |    round(${OracleSql.cosineConst(eE, VectorModel.AnnQuery)}, 6) AS sim,
       |    asg.cluster_id AS cluster_id
       |  FROM embeddings a JOIN asg ON asg.vec_id = a.vec_id
       |    JOIN probed p ON p.cluster_id = asg.cluster_id)
       |ORDER BY sim DESC, vec_id ASC LIMIT $AnnIvfTopKK""".stripMargin
  }

  /** Routed-HNSW big batch — see [[ivfBigBatchTopK]]. The probe list is
    * the margin-extended adaptive walk per query row (the calibrated
    * serving default: β=2 spends probes on boundary queries — recall
    * 0.995 at mean 5.5/64 shards on the round-8 grid — instead of the
    * fixed probes=4 pin this entry served through round 10). */
  def hnswRoutedBigBatchTopK(spark: SparkSession, dir: String): DataFrame =
    graft.index.HnswStore.bigBatchSearch(spark,
      hnswRoutedLayout(spark, dir),
      VectorModel.partQueriesBig(spark, dir), 3,
      graft.index.HnswStore.Adaptive(routedStats(spark, dir)))
      .orderBy("query_id", "rn")

  /** LSH big batch over the embeddings layout — see [[ivfBigBatchTopK]].
    * Queries are the sampled embeddings themselves (a DataFrame). Serves
    * the [[LshAnn.Adaptive]] rule per query row (the codegen
    * [[graft.functions.LshProbeKernel]]), which RecallSpec gates at the
    * collected paths' recall ≥ 0.7. `overscan` is chosen so overscan·topK
    * lands on the calibrated serving MASS (≈700 candidate rows —
    * [[graft.index.LshAnn.DefaultOverscan]]·k=20, the recall driver the
    * DevLshTune grids showed is mass, not k). */
  def lshBigBatchTopK(spark: SparkSession, dir: String): DataFrame = {
    val (path, model) = lshLayout(spark, dir)
    publishLshPlanes(spark, dir, model) // repair no-op unless dir switched / root lost
    val qdf = VectorModel.embeddings(spark, dir)
      .where(pmod(col("vec_id"), lit(16)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    LshAnn.bigBatchSearchStored(lshFrame(spark, path),
      model, qdf, 3, LshAnn.Adaptive(lshSizes(spark, dir), 234),
      vecCol = "embedding", idCol = "vec_id")
      .orderBy("query_id", "rn")
  }

  /** The hash-gated entries of this module (see the module scaladoc):
    * the SQ8/binary codecs (single and batch), the plain-PQ ADC +
    * roundtrip, and the full IVF and IVF-PQ serving families via the
    * [[OracleSidecars]] two-step oracle. */
  val oracleSql: Map[String, String] = Map(
    "ann_sq_topk" -> annSqTopKSql,
    "ann_pca_topk" -> annPcaTopKSql,
    "ann_pca_batch_topk" -> annPcaBatchTopKSql,
    "ann_bin_topk" -> annBinTopKSql,
    "ann_pq_adc_topk" -> annPqAdcTopKSql,
    "ann_opq_adc_topk" -> annOpqAdcTopKSql,
    "vq_ivf_bigbatch_filtered" -> ivfBigBatchFilteredSql,
    "vq_ivf_topk" -> ivfTopKSql,
    "vq_ivf_parity_topk" -> ivfTopKSql,
    "vq_ivf_stored_topk" -> ivfStoredTopKSql,
    "vq_ivf_batch_topk" -> ivfBatchTopKSql,
    "vq_ivf_bigbatch" -> ivfBigBatchSql,
    "ann_ivf_topk" -> annIvfTopKSql,
    // deliberate EXACTNESS tripwires (empirical, stronger than the ≥0.8
    // recall contract) — on a mismatch read the triage note at
    // [[hnswExactnessOracleSql]] before treating it as a recall regression
    "vq_hnsw_topk" -> hnswExactnessOracleSql,
    "vq_hnsw_stored_topk" -> hnswExactnessOracleSql,
    "vq_hnsw_routed_topk" -> hnswExactnessOracleSql,
    "vq_hnsw_routed_parity" -> hnswExactnessOracleSql,
    "ann_bin_batch_topk" -> annBinBatchTopKSql,
    "pq_roundtrip" -> pqRoundtripSql,
    "ann_ivfpq_topk" -> annIvfPqTopKSql,
    "ann_ivfpq_batch_topk" -> annIvfPqBatchTopKSql,
    "ann_ivfpq_bigbatch" -> annIvfPqBigBatchTopKSql,
    "ann_lsh_topk" -> annLshTopKSql,
    "ann_lsh_batch_topk" -> annLshBatchTopKSql,
    "ann_lsh_bigbatch" -> annLshBigBatchTopKSql)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_sq_topk" -> (annSqTopK _),
    "ann_pca_topk" -> (annPcaTopK _),
    "ann_pca_batch_topk" -> (annPcaBatchTopK _),
    "ann_bin_topk" -> (annBinTopK _),
    "ann_bin_batch_topk" -> (annBinBatchTopK _),
    "ann_pq_adc_topk" -> (annPqAdcTopK _),
    "ann_opq_adc_topk" -> (annOpqAdcTopK _),
    "ann_ivfpq_topk" -> (annIvfPqTopK _),
    "ann_ivfpq_batch_topk" -> (annIvfPqBatchTopK _),
    "vq_ivf_topk" -> (ivfTopK _),
    "vq_ivf_stored_topk" -> (ivfStoredTopK _),
    "vq_ivf_parity_topk" -> (ivfParityTopK _),
    "vq_ivf_batch_topk" -> (ivfBatchTopK _),
    "vq_hnsw_batch_topk" -> (hnswBatchTopK _),
    "vq_hnsw_stored_batch" -> (hnswStoredBatchTopK _),
    "vq_hnsw_stored_topk" -> (hnswStoredTopK _),
    "vq_hnsw_routed_topk" -> (hnswRoutedTopK _),
    "vq_hnsw_routed_parity" -> (hnswRoutedParityTopK _),
    "vq_hnsw_routed_batch" -> (hnswRoutedBatchTopK _),
    "vq_hnsw_topk" -> (hnswTopK _),
    "ann_ivf_topk" -> (annIvfTopK _),
    "ann_lsh_topk" -> (annLshTopK _),
    "ann_lsh_batch_topk" -> (annLshBatchTopK _),
    "vq_ivf_bigbatch" -> (ivfBigBatchTopK _),
    "vq_ivf_bigbatch_filtered" -> (ivfBigBatchFilteredTopK _),
    "vq_hnsw_routed_bigbatch" -> (hnswRoutedBigBatchTopK _),
    "ann_lsh_bigbatch" -> (lshBigBatchTopK _),
    "ann_ivfpq_bigbatch" -> (annIvfPqBigBatchTopK _),
    "pq_roundtrip" -> (pqRoundtrip _))
}
