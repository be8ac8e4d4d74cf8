package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.search.VectorSearch

/** IVF (inverted-file) index: W6 `build_ivf_index` + S3 `ivf_search`
  * (vervectordb/__init__.py:411-487), Spark-first.
  *
  * The reference's inverted lists (cluster → row indices) become a
  * `cluster_id` column; the Spark-native "inverted list" is the Parquet
  * layout partitioned by `cluster_id` ([[saveClustered]]) — probing clusters
  * is then Catalyst partition pruning (file skipping), which is how the scan
  * avoids ~half the data at any scale. Centroids are a tiny driver-side
  * model (16 × d doubles), the analog of the reference's broadcast KMeans
  * state.
  *
  * Parameters mirror the reference defaults: k=16 clusters, seed=42,
  * probes = max(k/2, 8) (`:441-442`).
  */
object Ivf {

  case class IvfModel(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length

    /** The `nProbes` centroids most similar to `query`: [[Nearest]]'s
      * probe list (the benchmark's probe-count layer reads it). */
    def probeClusters(query: Seq[Double], nProbes: Int): Seq[Int] =
      Nearest(nProbes).probes(this, query, nProbes)
  }

  /** Which clusters a serve probes for one query. Every IVF and IVF-PQ
    * serve takes one rule, and both cases resolve through the one centroid
    * walk, [[graft.functions.IvfKernel.probes]]: centroids ranked by cosine
    * similarity to the query (the reference scores centroids by cosine,
    * `:438`), ties to the lower index. The collected serves run it on the
    * driver, the big-batch serves per query row in codegen
    * ([[graft.functions.ProbeClusters]]), so every serve probes the same
    * clusters under the same rule. */
  sealed trait ProbeRule {
    /** The walk's stop rule for a top-`topK` serve over `model`. */
    private[graft] final def stop(model: IvfModel, topK: Int): graft.functions.ProbeStop =
      this match {
        case Nearest(n) => graft.functions.ProbeStop.nearest(n)
        case Adaptive(sizes, overscan, minProbes) =>
          graft.functions.ProbeStop(Array.tabulate(model.k)(c => sizes.getOrElse(c, 0L)),
            overscan.toLong * topK, minProbes, Double.NegativeInfinity, Int.MaxValue)
      }

    /** The clusters `query` probes at top-`topK`, in walk order. */
    final def probes(model: IvfModel, query: Seq[Double], topK: Int): Seq[Int] =
      new graft.functions.IvfKernel(model.centroids)
        .probes(query.toArray, stop(model, topK)).toSeq

    /** The same walk per row of `vec`, as a probe-list column. */
    private[graft] final def column(vec: Column, model: IvfModel, topK: Int): Column =
      graft.functions.ModelExpressions.probeClusters(vec, model.centroids,
        stop(model, topK))
  }

  /** The `n` centroids most similar to the query. The reference's rule is
    * [[defaultRule]], `Nearest(max(k/2, 8))`. */
  final case class Nearest(n: Int) extends ProbeRule

  /** The candidate-mass walk: probe centroids in similarity order until
    * the probed clusters hold `overscan · topK` rows (`sizes` =
    * [[clusterSizes]], memoized beside the layout), never fewer than
    * `minProbes`. A FIXED probe count spends its budget obliviously: when
    * the query lands near small clusters it scans too few rows to fill a
    * confident top-k, near huge ones it scans far more than the re-rank
    * needs. Anchoring the stop to CANDIDATE COUNT (the same contract the
    * IVF-PQ refine stage uses for its 4k rerank set) keeps the scanned
    * volume — and so both recall and cost — stable under any cluster-size
    * distribution.
    *
    * `minProbes` floors the walk: neighbors of a query near a cluster
    * BOUNDARY live in runner-up clusters however many rows the winner
    * holds — one giant nearest cluster satisfying the mass target alone
    * measurably starves boundary queries (probing 1: H2 recall 0.70; 2:
    * 0.945; 3: 1.00 — vs 1.00 for fixed 8). */
  final case class Adaptive(sizes: Map[Int, Long], overscan: Int = 16,
      minProbes: Int = 3) extends ProbeRule

  /** The reference's probe rule, `max(k/2, 8)` nearest clusters
    * (vervectordb/__init__.py:441-442). */
  def defaultRule(model: IvfModel): ProbeRule = Nearest(math.max(model.k / 2, 8))

  /** Rows used to fit the centroids. 16 centroids converge on a bounded
    * sample; at 100 TB a full-table k-means is neither feasible nor needed —
    * fit on the sample, assign the full table in one distributed pass. */
  val FitSampleRows = 100000

  /** W6: fit k-means on a bounded driver-side sample, assign distributed.
    *
    * The fit mirrors the reference (sklearn KMeans on the in-memory matrix,
    * vervectordb/__init__.py:416-418): the sample is collected and Lloyd's
    * runs at memory speed with seeded k-means++ init. A distributed MLlib
    * KMeans here would spend ~25 scheduler round-trips (k-means|| init
    * passes + one job per iteration) to fit 16 centroids on a sample that
    * fits in single-digit MB — the cluster is for the ASSIGNMENT pass over
    * the full table, which stays distributed (broadcast centroids, one
    * narrow map).
    *
    * Sampling is ONE pass, no count(): rows get a deterministic
    * pseudo-random priority (hash of the id) and the ≤ [[FitSampleRows]]
    * smallest are taken — orderBy+limit plans as TakeOrderedAndProject
    * (bounded per-partition heap + driver merge, no full sort). The
    * priority is a pure function of the id, so the sample — and therefore
    * the centroids — is independent of partitioning and executor count.
    * The previous exact count() pre-pass existed only to size a hash-mod;
    * at 100 TB that was a full scan for one scalar. */
  def fit(df: DataFrame, vecCol: String = "vector", k: Int = 16, seed: Long = 42L,
      maxIter: Int = 10, idCol: String = "id"): (DataFrame, IvfModel) = {
    val wide = graft.operators.Par.widen(df)
    val spark = df.sparkSession
    // The winning ids first, WITHOUT their vectors: TakeOrderedAndProject
    // collects every partition's top-FitSampleRows rows to the driver
    // merge, so ordering the full (id, vector) rows dragged partitions ×
    // sample-rows VECTORS through driver deserialization to keep 100k of
    // them (at 64-d embeddings that is GBs of discarded payload). Order
    // 12 bytes of (hash, id) per row instead, then fetch exactly the
    // winners' vectors with one broadcast semi-join — the identical
    // sample set (same total order, same limit), a fraction of the bytes
    // (guide §8: decide with small rows, move big rows once).
    val sampleIds = df
      .select(col(idCol).cast("long").as(idCol))
      .orderBy(hash(col(idCol)), col(idCol))
      .limit(FitSampleRows)
      .collect().map(_.getLong(0))
    import spark.implicits._
    val idDf = sampleIds.toSeq.toDF(idCol)
    val sample = df
      .select(col(idCol).cast("long").as(idCol),
        col(vecCol).cast("array<double>").as(vecCol))
      .join(broadcast(idDf), Seq(idCol), "left_semi")
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    val centroids = lloyd(sample, k, seed, maxIter)
    val model = IvfModel(centroids)
    (assign(wide, model, vecCol), model)
  }

  /** Assign-only pass: label rows with the nearest centroid of an EXISTING
    * model — one narrow map, no fit. This is the incremental-maintenance
    * path: micro-batches of new rows are assigned with the current
    * centroids and appended to the clustered layout; refit is a separate,
    * infrequent decision (on measured drift), not a per-write cost. */
  def assign(df: DataFrame, model: IvfModel, vecCol: String = "vector"): DataFrame =
    df.withColumn("cluster_id",
      graft.functions.ModelExpressions.nearestCentroid(col(vecCol), model.centroids))

  /** Seeded k-means++ init + Lloyd's iterations, driver-local. Empty
    * clusters keep their previous centroid. Pure function of (sample order,
    * k, seed, maxIter). */
  private[graft] def lloyd(sample: Array[Array[Double]], k: Int, seed: Long,
      maxIter: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty k-means sample")
    val dim = sample.head.length
    val rng = new java.util.Random(seed)
    val kk = math.min(k, sample.length)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // The two O(n·k·d) loops below (seeding's min-distance refresh and
    // Lloyd's argmin assignment) parallelize across the driver's cores
    // WITHOUT changing a single comparison or addition order: each point
    // reads shared centers and writes only its own slot, and every
    // reduction (distance totals, centroid sums) stays sequential in
    // sample order. The fit therefore remains BIT-IDENTICAL to the
    // single-threaded walk — layouts are seeded and deterministic, and a
    // parallel reduction here would reorder double additions and silently
    // change every downstream hash-gated layout. This matters at derived
    // shard counts: k grows with the corpus (ceil(n/targetRows)), and a
    // sequential O(n·k·d) fit would reintroduce a super-linear DRIVER
    // term into the routed build the derived policy just removed.
    def parRange(n: Int)(body: Int => Unit): Unit =
      java.util.stream.IntStream.range(0, n).parallel()
        .forEach(i => body(i))
    // k-means++ seeding
    val centers = new Array[Array[Double]](kk)
    centers(0) = sample(rng.nextInt(sample.length)).clone()
    val minD2 = sample.map(d2(_, centers(0)))
    var c = 1
    while (c < kk) {
      val total = minD2.sum
      var r = rng.nextDouble() * total
      var pick = 0
      while (pick < sample.length - 1 && r > minD2(pick)) { r -= minD2(pick); pick += 1 }
      centers(c) = sample(pick).clone()
      val cNew = centers(c)
      parRange(sample.length) { i =>
        val d = d2(sample(i), cNew)
        if (d < minD2(i)) minD2(i) = d
      }
      c += 1
    }
    // Lloyd's
    val assign = new Array[Int](sample.length)
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      val newAssign = new Array[Int](sample.length)
      parRange(sample.length) { i =>
        var best = 0; var bestD = d2(sample(i), centers(0)); var j = 1
        while (j < kk) {
          val d = d2(sample(i), centers(j))
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        newAssign(i) = best
      }
      changed = iter == 0
      var i = 0
      while (i < sample.length) {
        if (assign(i) != newAssign(i)) changed = true
        assign(i) = newAssign(i)
        i += 1
      }
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      i = 0
      while (i < sample.length) {
        val a = assign(i); counts(a) += 1
        val s = sums(a); val v = sample(i)
        var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
        i += 1
      }
      var j = 0
      while (j < kk) {
        if (counts(j) > 0) {
          var t = 0
          while (t < dim) { sums(j)(t) /= counts(j); t += 1 }
          centers(j) = sums(j)
        }
        j += 1
      }
      iter += 1
    }
    if (kk < k) centers.take(kk) ++ Array.fill(k - kk)(centers(0).clone())
    else centers
  }

  /** Drift signal for the refit decision: mean L2 distance between rows
    * and their assigned centroid — one distributed aggregate over the
    * assigned view, no collect. A deployment tracks this per ingest
    * window ([[graft.streaming.StreamingIngest.ingestWithIvfAssign]]
    * keeps appending with the existing centroids) and refits + rewrites
    * the clustered layout when the signal trends up; assignment stays
    * valid meanwhile, so serving never blocks on the refit. */
  def meanAssignmentDistance(assigned: DataFrame, model: IvfModel,
      vecCol: String = "vector"): Double = {
    val dist = graft.functions.ModelExpressions
      .centroidDistance(col(vecCol), col("cluster_id"), model.centroids)
    // coalesce: an empty assigned view (fresh deployment, all rows
    // deleted) reports 0 drift rather than NPE-ing the monitoring loop
    assigned.agg(coalesce(avg(dist), lit(0.0)))
      .head.getDouble(0)
  }

  /** Persist the clustered table partitioned by cluster_id — the on-disk
    * inverted-list layout that makes probe filters prune files. Rows are
    * clustered by the partition column first: otherwise every write task
    * opens a file in every cluster dir (tasks × clusters small files — a
    * real failure mode for dynamic partition writes at scale). */
  def saveClustered(assigned: DataFrame, path: String): Unit =
    assigned.repartition(col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id").parquet(path)

  /** Offline compaction of a cluster-partitioned layout — the other half
    * of the streaming-ingest contract
    * ([[graft.streaming.StreamingIngest.ingestWithIvfAssign]] appends one
    * small file per (micro-batch, cluster); this folds them back to one
    * file per cluster). Write-to-temp-and-swap: the compacted copy is
    * fully written BESIDE the live layout, then swapped in with two
    * renames; a failed swap rolls back, and recovery never deletes
    * anything that might be the only surviving copy — a crash at any
    * point leaves a state the next invocation repairs (die before the
    * swap: live layout untouched; die between the renames: the original
    * is restored from the `_old` name first; die before the final
    * cleanup: the stale copy is dropped).
    *
    * OPERATIONAL CONTRACT (this is a plain directory layout, not a
    * transactional table format): run with WRITERS QUIESCED — a
    * micro-batch committing between the snapshot read and the swap would
    * be swept away with the old layout — and expect a brief
    * no-layout-at-`path` window during the swap, so schedule it as the
    * maintenance step between ingest cycles, not concurrently with
    * serving SLAs. The rename-based swap is atomic per rename on
    * HDFS/local file systems; object stores emulate rename as
    * copy+delete, where a transactional table format (or a
    * pointer-file indirection) is the right tool instead.
    *
    * Cost: one read + one hash-shuffle + one write of the layout. The
    * shuffle re-derives a grouping the directory structure already
    * encodes, but folding per-cluster without it means one Spark job per
    * cluster — fine at k=16, pathological at warehouse cluster counts;
    * one shuffled pass is the shape that survives both. */
  def compactClustered(spark: SparkSession, path: String): Unit =
    rewriteSwapped(spark, path)(tmp =>
      saveClustered(spark.read.parquet(path), tmp))

  /** Write-beside-and-swap rewrite of the layout at `path` — the shared
    * machinery of [[compactClustered]] and [[maintainClustered]]:
    * `write(tmp)` produces the complete replacement at `tmp` (it may read
    * the live layout), then two renames swap it in. Crash at any point
    * leaves a state the next invocation repairs; the operational contract
    * (writers quiesced, brief no-layout window, rename-atomicity caveats
    * on object stores) is documented on [[compactClustered]]. */
  private[graft] def rewriteSwapped(spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    val (fs, p) = graft.store.Fs.pathFs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + "._compact_tmp")
    val old = new org.apache.hadoop.fs.Path(p.getParent, p.getName + "._compact_old")
    // crash recovery first, destroying nothing that could be the only
    // copy: a missing live path with `_old` present means a previous run
    // died mid-swap — restore the original before anything else
    if (!fs.exists(p) && fs.exists(old))
      require(fs.rename(old, p), s"compaction recovery failed: cannot restore $old to $p")
    require(fs.exists(p), s"no clustered layout at $p")
    // with the live layout confirmed present, leftovers are disposable:
    // `tmp` is an unfinished rewrite, `old` a fully-swapped stale one
    fs.delete(tmp, true)
    fs.delete(old, true)
    write(tmp.toString)
    require(fs.rename(p, old), s"compaction swap failed: cannot move $p aside")
    if (!fs.rename(tmp, p)) {
      fs.rename(old, p) // roll back; leaves the pre-rewrite layout live
      throw new IllegalStateException(s"compaction swap failed: cannot move $tmp into place")
    }
    fs.delete(old, true)
    ()
  }

  /** Automated index maintenance — the refit loop closing the streaming
    * lifecycle ([[graft.streaming.StreamingIngest.ingestWithIvfAssign]]
    * appends micro-batches under the EXISTING centroids; this is the
    * scheduled step that decides when those centroids have gone stale):
    *
    *  1. measure [[meanAssignmentDistance]] over the live layout (one
    *     distributed aggregate);
    *  2. below `driftThreshold` → no-op (serving keeps the current model,
    *     layout untouched — the common case costs one scan);
    *  3. above it → refit centroids on the layout's rows (seeded,
    *     sample-bounded [[fit]]), re-assign, and REWRITE the layout via
    *     the same write-beside-and-swap as [[compactClustered]] — one
    *     maintenance pass both refreshes the centroids and folds the
    *     accumulated per-batch small files to one file per cluster.
    *
    * Returns (serving model, whether a refit happened); the caller swaps
    * its driver-side model for the returned one. Same operational
    * contract as compaction: run with writers quiesced. */
  def maintainClustered(spark: SparkSession, path: String, model: IvfModel,
      driftThreshold: Double, vecCol: String = "vector", idCol: String = "id",
      k: Int = 16, seed: Long = 42L): (IvfModel, Boolean) =
    maintain(spark.read.parquet(path), model, driftThreshold, vecCol, idCol,
      k, seed)(rewriteSwapped(spark, path))

  /** Shared drift-check → refit → re-assign → rewrite body of
    * [[maintainClustered]] and [[maintainClusteredVersioned]] — the two
    * differ only in how the live layout reads and how the rewrite lands
    * (in-place swap vs versioned publish). */
  private def maintain(assigned: DataFrame, model: IvfModel,
      driftThreshold: Double, vecCol: String, idCol: String, k: Int,
      seed: Long)(rewrite: (String => Unit) => Unit): (IvfModel, Boolean) = {
    val drift = meanAssignmentDistance(assigned, model, vecCol)
    if (drift <= driftThreshold) (model, false)
    else {
      val live = assigned.drop("cluster_id")
      val (_, refitted) = fit(live, vecCol, k, seed, idCol = idCol)
      // re-assign WITHOUT the widen exchange (saveClustered's cluster
      // repartition provides the write parallelism — the ivfLayout shape)
      rewrite(dir => saveClustered(assign(live, refitted, vecCol), dir))
      (refitted, true)
    }
  }

  /** Versioned twins of the clustered-layout lifecycle, over a
    * [[graft.store.VersionedLayout]] root (`<root>/vNNNNN` + commit
    * markers): publishes leave NO no-layout window — serving resolves the
    * live version once per query and keeps that snapshot while the next
    * version writes — and a crashed rewrite never touches the live copy.
    * This is the shape that lets scheduled maintenance run NEXT TO
    * serving; the plain-path variants ([[saveClustered]]/
    * [[compactClustered]]/[[maintainClustered]]) remain for
    * fixed-location layouts under full writer quiescence. */
  def saveClusteredVersioned(assigned: DataFrame, root: String): String =
    graft.store.VersionedLayout.publish(assigned.sparkSession, root)(
      dir => saveClustered(assigned, dir))

  /** The live version's rows (read snapshot — stable across publishes). */
  def currentClustered(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(graft.store.VersionedLayout.currentDir(spark, root)
      .getOrElse(throw new IllegalStateException(s"no committed layout under $root")))

  /** [[maintainClustered]] over a versioned root: drift check on the live
    * version; on refit, the re-assigned rewrite publishes as the NEXT
    * version (readers of the old one are undisturbed; it remains as the
    * grace version until the following publish). */
  def maintainClusteredVersioned(spark: SparkSession, root: String, model: IvfModel,
      driftThreshold: Double, vecCol: String = "vector", idCol: String = "id",
      k: Int = 16, seed: Long = 42L): (IvfModel, Boolean) =
    maintain(currentClustered(spark, root), model, driftThreshold, vecCol,
      idCol, k, seed)(w => { graft.store.VersionedLayout.publish(spark, root)(w); () })

  /** `cluster_id` ∈ `probes`, with the probe set bound as ONE array literal.
    * Generated code reads the literal through a reference object, so a new
    * probe set reuses the compiled plan; an `isin` writes each probe into
    * the generated code and compiles afresh per probe set. Over a clustered
    * layout it is still a partition filter on `cluster_id` (PlanSpec). */
  def probeFilter(probes: Seq[Int]): Column =
    array_contains(typedLit(probes.sorted.toArray), col("cluster_id"))

  /** S3: probe-pruned approximate top-k over the clusters `rule` probes
    * ([[defaultRule]] is the reference's); filter-first exact semantics
    * within the probed subset. The probe filter is a partition filter over
    * the clustered layout whichever rule chose the list. */
  def search(assigned: DataFrame, model: IvfModel, query: Seq[Double], topK: Int,
      rule: ProbeRule, filter: Option[Column] = None, vecCol: String = "vector",
      idCol: String = "id"): DataFrame = {
    val pruned = assigned.where(probeFilter(rule.probes(model, query, topK)))
    VectorSearch.bruteForceTopK(pruned, query, topK, filter, vecCol, idCol)
  }

  /** Per-cluster row counts of an assigned view — the [[Adaptive]]
    * statistic: one cheap aggregate (≤ k rows back), computed once per
    * layout beside the centroids. */
  def clusterSizes(assigned: DataFrame): Map[Int, Long] =
    assigned.groupBy("cluster_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** S4 with method=ivf (vervectordb/__init__.py:532-534, which the
    * reference loops serially): ONE distributed job for the whole query
    * set. Each query's probe clusters are computed driver-side (tiny
    * centroid model), exploded to (query_id, cluster_id, qvec) rows, and
    * equi-joined to the assigned table on cluster_id — so every query
    * scans only its probed clusters (partition pruning when `assigned` is
    * the persisted clustered layout), and ranking is the k-bounded
    * aggregator, shuffling at most k rows per (query, task). */
  def batchSearch(assigned: DataFrame, model: IvfModel,
      queries: Seq[(Long, Seq[Double])], topK: Int, rule: ProbeRule,
      vecCol: String = "vector", idCol: String = "id"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = assigned.sparkSession
    // under [[Adaptive]] the join volume scales with each query's
    // candidate need instead of |queries|·probes
    val probeRows = queries.flatMap { case (qid, q) =>
      rule.probes(model, q, topK).map(c => Row(qid, c, q))
    }
    val qdf = spark.createDataFrame(
      spark.sparkContext.parallelize(probeRows),
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("cluster_id", IntegerType, nullable = false),
        StructField("qvec", ArrayType(DoubleType, containsNull = false), nullable = false))))
    val joined = graft.operators.Par.widen(assigned)
      .join(broadcast(qdf), "cluster_id")
      .withColumn("sim_raw",
        graft.GraftExtensions.cosineSim(col(vecCol), col("qvec")))
    graft.operators.TopK.perGroupTopK(joined, "query_id", col(idCol), col("sim_raw"), topK)
      .withColumnRenamed("id", idCol)
  }

  /** [[batchSearch]] for query sets too large to collect: the queries stay
    * a DataFrame end-to-end — each query row resolves `rule` with the
    * codegen'd [[graft.functions.ProbeClusters]] expression (the same walk
    * the collected serves run on the driver, so probe lists match them
    * exactly — BigBatchSpec gates result parity under both rules), and
    * the probe rows equi-join the cluster-assigned table on cluster_id.
    * NOTHING query-sized touches the driver or a broadcast: both join
    * inputs shuffle, so the path survives query sets far past the
    * broadcast/driver ceiling the collected path hits.
    *
    * cluster_id alone has only `model.k` values — too few join keys for a
    * cluster — so the data side is salted by `hash(id) mod S` and the
    * (small) probe rows are replicated S ways, giving k·S join granules
    * with each (query, candidate) pair matched exactly once. */
  def bigBatchSearch(assigned: DataFrame, model: IvfModel, queries: DataFrame,
      topK: Int, rule: ProbeRule, queryIdCol: String = "query_id",
      queryVecCol: String = "qvec", vecCol: String = "vector", idCol: String = "id",
      filter: Option[Column] = None): DataFrame = {
    val spark = assigned.sparkSession
    val salts = bigBatchSalts(spark, model.k)
    val probed = graft.operators.Par.widen(queries)
      .select(col(queryIdCol).cast("long").as("query_id"),
        col(queryVecCol).cast("array<double>").as("qvec"))
      .select(col("query_id"), col("qvec"),
        explode(rule.column(col("qvec"), model, topK)).as("cluster_id"))
      .withColumn("__salt", explode(array((0 until salts).map(lit(_)): _*)))
    // S5 semantics at query-set scale, same exact filter-first contract as
    // [[search]]: the predicate lands on the candidate scan BEFORE any
    // scoring (pushed into the layout's parquet read), so every returned
    // row satisfies it and ranks against the full accepted candidate set —
    // no overfetch starvation. Probe lists are filter-independent (the
    // model ranks centroids, not rows), matching the collected paths.
    val data = filter.foldLeft(assigned)((d, f) => d.where(f))
      .withColumn("__salt", pmod(hash(col(idCol)), lit(salts)))
    val joined = probed.hint("shuffle_hash")
      .join(data, Seq("cluster_id", "__salt"))
      .select(col("query_id"), col(idCol),
        graft.GraftExtensions.cosineSim(col(vecCol), col("qvec")).as("sim_raw"))
    graft.operators.TopK.perGroupTopK(joined, "query_id", col(idCol), col("sim_raw"), topK)
      .withColumnRenamed("id", idCol)
  }

  /** Salt factor of the big-batch cluster joins: k·S join granules should
    * cover the cluster's parallelism, CAPPED — the salt replicates the
    * PROBE rows (which grow with |queries|), so an unbounded
    * S = defaultParallelism would blow the probe-side shuffle up by
    * cluster width on exactly the path built for huge query sets. */
  private[index] def bigBatchSalts(spark: SparkSession, k: Int): Int =
    math.min(64, math.max(1,
      math.ceil(spark.sparkContext.defaultParallelism.toDouble / k).toInt))

  /** Distributed approximate k-NN SELF-join — the similarity-join shape
    * that survives past the broadcast/driver limit (the exact blocked
    * join broadcasts a whole table as build side): every row probes its
    * `nProbes` nearest clusters (exploded to equi-join keys) against the
    * cluster-assigned table, co-partitioned on cluster_id — candidate
    * volume is Σ_c |probers(c)|·|members(c)| instead of n², with
    * k-means-balanced buckets instead of data-dependent skew. Ranking is
    * the k-bounded aggregator (map-side truncation). Returns
    * (query_id, id, sim, rn); recall vs the exact join is spec-gated. */
  def knnJoin(df: DataFrame, model: IvfModel, k: Int, nProbes: Int = 2,
      vecCol: String = "vector", idCol: String = "id"): DataFrame = {
    val left = graft.operators.Par.widen(df)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(Nearest(nProbes).column(col(vecCol), model, k)).as("cluster_id"))
    val right = assign(df, model, vecCol)
      .select(col(idCol).as("id"), col(vecCol).as("dv"), col("cluster_id"))
    val joined = left.join(right.hint("shuffle_hash"), Seq("cluster_id"))
      .where(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        graft.GraftExtensions.cosineSim(col("qv"), col("dv")).as("sim_raw"))
    graft.operators.TopK.perGroupTopK(joined, "query_id", col("id"), col("sim_raw"), k)
  }
}
