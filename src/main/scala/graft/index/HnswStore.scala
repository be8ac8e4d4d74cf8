package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** HNSW persistence — the reference pickles its graph on `save`
  * (vervectordb/__init__.py:556-573); here each per-partition graph is
  * dumped as parquet adjacency rows (partition, insertion order, id,
  * vector, node level, per-level neighbor ids, entry flag) and restored
  * structurally in O(nodes + edges) — no reconstruction beam search. The
  * build-once/serve-many lifecycle for the graph index, mirroring
  * [[Ivf.saveClustered]] for the inverted-file index.
  *
  * The dump preserves the exact graphs [[Hnsw.hnswTopK]] would build
  * (same deterministic repartition + per-partition seed), so searches over
  * the restored index return identical results to a fresh build.
  *
  * SERVING IS SHUFFLE-FREE: the layout holds one file per graph partition
  * and Spark never byte-range-splits a parquet file ≤ its computed split
  * size, so every task sees only COMPLETE graphs and restore runs inside
  * `mapPartitions` with an in-memory group-by — no exchange of the index
  * per query (shuffling the whole index per lookup is exactly the shape
  * that dies at 100 TB). The complete-graph invariant is enforced twice:
  *  - [[filesUnsplit]] lists the layout through the Hadoop `FileSystem`
  *    API (HDFS/S3-correct — a `java.io.File` walk would find nothing on
  *    a remote filesystem, vacuously pass, and serve from PARTIAL graphs)
  *    and compares file sizes against Spark's actual split-size formula;
  *    an over-large shard falls back to the grouping shuffle.
  *  - structurally: every stored row carries its shard's row count
  *    (`part_rows`, written at save), and restore asserts the group it
  *    holds is complete — so even a wrong listing (new Spark split
  *    heuristics, an exotic filesystem) fails loudly instead of silently
  *    returning neighbors from a truncated graph.
  * The fix for an over-large shard at scale is more, smaller shards at
  * build time.
  *
  * Serving has ONE probe rule and one serve per query shape. A
  * [[ProbeRule]] says which shards a query searches: [[AllShards]] (the
  * only rule a hash-sharded layout serves), [[Nearest]]`(n)` (the `n`
  * shards whose routing centroids are nearest the query) or
  * [[Adaptive]] (the margin-extended candidate-mass walk). The serves are
  * [[search]] (one query, with an optional beam `accept` test),
  * [[batchSearch]] (a collected query set) and [[bigBatchSearch]] (a
  * query DataFrame). None of them takes or reads the build parameters:
  * `m` and `efConstruction` only size the insert and prune buffers, which
  * a restored graph never uses, so restore takes [[HnswIndex]]'s defaults.
  *
  * Two serving lifecycles share that restore and search body. The
  * one-shot serves restore inside each query's own plan and keep nothing
  * (the registered queries, streaming and the recall bench use them). A
  * long-lived owner (the `VectorDb` facade) restores ONCE with
  * [[resident]] and serves every later query from the graphs cached in
  * Spark's block manager, pruned to the probed shards; a block evicted
  * under memory pressure is restored again from the layout by the next
  * query that needs it ([[ResidentGraphs]]). Both take the same rule.
  */
object HnswStore {

  private type Rec = (Int, Int, Long, Array[Double], Int, Array[Array[Long]], Boolean, Int)

  /** Sentinel for `numPartitions`/`numShards`: derive the shard count from
    * the CORPUS SIZE at build time (rows-per-shard target) instead of
    * accepting a fixed count. This is the policy that keeps graph-build
    * cost linear across corpus decades: per-shard insert cost is
    * superlinear in shard size (~n^1.27 measured — insertion beam walks
    * grow with the graph; DevHnswProfile: one shard at 10× the rows costs
    * 18.6× to build), so a FIXED shard count silently inherits that
    * exponent at every rebuild as the corpus grows. Deriving
    * `ceil(n / targetRows)` holds per-shard size — and therefore per-shard
    * cost — constant, making total build work ∝ corpus size. */
  val DeriveShards = 0

  /** Rows-per-shard target of the derived policy for HASH-sharded graphs
    * ([[save]]): ~19k rows ≈ the per-shard size the sf0.1 operating point
    * was measured at (600k rows / 32 shards; one 19k×8d shard builds in
    * ~1.6 s single-threaded, DevHnswProfile). */
  val TargetShardRows = 19000

  /** Rows-per-shard target for the ROUTED layout ([[saveRouted]]): ~9.4k
    * rows ≈ the DevRoutedSweep operating point (64 shards at sf0.1
    * dominated 16 on every axis — recall, build AND serving; RECALL.md
    * round 7). Finer spatial shards both route better and build faster. */
  val RoutedTargetShardRows = 9400

  /** Floor of the derived count — a CONSTANT (the engine's baseline
    * shuffle width), deliberately NOT the session's core count: graphs
    * are seeded per shard, so two hosts deriving different counts from
    * their core counts would build DIFFERENT layouts for the same corpus
    * and serve different (approximate) results. The floor only matters
    * for corpora under `floor · targetRows` rows — small enough that the
    * extra parallelism is free; past it the data term dominates and the
    * count scales with the corpus, which is the 1000-executor design
    * (shard count grows with rows, per-shard size constant, wall-clock
    * bounded by cluster width). A deployment that wants a higher floor
    * passes its cluster parallelism as an explicit shard count — the
    * derived policy is for the growth axis, not the width axis. */
  val DefaultMinShards = 32

  /** The derived-policy arithmetic: `max(floor, ceil(n / targetRows))`. */
  def derivedShards(n: Long, targetRows: Int,
      minShards: Int = DefaultMinShards): Int = {
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    math.max(minShards.toLong, (n + targetRows - 1) / targetRows)
      .min(Int.MaxValue).toInt
  }

  /** Graph hyperparameter sidecar (underscore-prefixed → invisible to the
    * parquet reader): build-time (m, efConstruction, numPartitions) travel
    * with the layout, so rebuilds use the BUILD-time parameters, not
    * whatever defaults the caller has — the parity gap the reference never
    * has because it pickles the whole index object
    * (vervectordb/__init__.py:556-594). No serve reads it: a restored
    * graph searches the same whatever its `m`/`efConstruction`. */
  private val MetaFile = "_graft_meta"

  /** Shard-routing sidecar (underscore-prefixed → invisible to the parquet
    * reader): one line of comma-joined doubles per shard, line index =
    * shard id. Written by [[saveRouted]], read by every serve whose
    * [[ProbeRule]] routes. */
  private val RoutingFile = "_graft_routing"

  private def hadoopFs(spark: SparkSession, path: String) =
    graft.store.Fs.pathFs(spark, path)

  private def writeMeta(spark: SparkSession, path: String,
      m: Int, efConstruction: Int, numPartitions: Int,
      targetRows: Option[Int] = None): Unit = {
    val (fs, p) = hadoopFs(spark, path)
    val out = fs.create(new org.apache.hadoop.fs.Path(p, MetaFile), true)
    // targetRows records that the layout was built under the DERIVED
    // policy: rebuilds re-derive from the grown corpus at the same
    // target instead of freezing the build-time count (the exact gap the
    // policy exists to close). Absent = explicitly-pinned layout; its
    // rebuilds preserve the pin.
    try out.write(
      (s"m=$m\nefConstruction=$efConstruction\nnumPartitions=$numPartitions\n"
        + targetRows.map(t => s"targetRows=$t\n").getOrElse(""))
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** Build-time (m, efConstruction, numPartitions) of a stored layout. */
  private[graft] def readMeta(spark: SparkSession, path: String): Option[(Int, Int, Int)] = {
    val (fs, p) = hadoopFs(spark, path)
    val mp = new org.apache.hadoop.fs.Path(p, MetaFile)
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val kv = txt.split("\n").filter(_.contains("=")).map { l =>
        val Array(k, v) = l.split("=", 2); k -> v.trim.toInt
      }.toMap
      Some((kv("m"), kv("efConstruction"), kv("numPartitions")))
    }
  }

  /** The rows-per-shard target a layout was derived under, if it was
    * built with the [[DeriveShards]] policy (see [[writeMeta]]). */
  private[graft] def readTargetRows(spark: SparkSession, path: String): Option[Int] = {
    val (fs, p) = hadoopFs(spark, path)
    val mp = new org.apache.hadoop.fs.Path(p, MetaFile)
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      txt.split("\n").find(_.startsWith("targetRows="))
        .map(_.stripPrefix("targetRows=").trim.toInt)
    }
  }

  /** Copy the hyperparameter sidecar alongside a layout copy (the facade's
    * save path rewrites the parquet through a DataFrame, which drops
    * non-data files), derived-policy target included. */
  private[graft] def copyMeta(spark: SparkSession, from: String, to: String): Unit =
    readMeta(spark, from).foreach { case (m, ef, np) =>
      writeMeta(spark, to, m, ef, np, readTargetRows(spark, from))
    }

  /** Copy the routing sidecar alongside a layout copy (same reason as
    * [[copyMeta]]) — without it a saved-then-loaded routed index would
    * silently degrade to the all-shards fan-out. No-op for unrouted
    * layouts. */
  private[graft] def copyRouting(spark: SparkSession, from: String, to: String): Unit =
    readRouting(spark, from).foreach(writeRouting(spark, to, _))

  private def writeRouting(spark: SparkSession, path: String,
      centroids: Array[Array[Double]]): Unit = {
    val (fs, p) = hadoopFs(spark, path)
    val out = fs.create(new org.apache.hadoop.fs.Path(p, RoutingFile), true)
    try out.write(
      centroids.map(_.mkString(",")).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Shard centroids of a routed layout (row index = shard id), if the
    * layout was built with [[saveRouted]]. */
  private[graft] def readRouting(spark: SparkSession, path: String)
      : Option[Array[Array[Double]]] = {
    val (fs, p) = hadoopFs(spark, path)
    val rp = new org.apache.hadoop.fs.Path(p, RoutingFile)
    if (!fs.exists(rp)) None
    else {
      val in = fs.open(rp)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      Some(txt.split("\n").filter(_.nonEmpty).map(_.split(",").map(_.toDouble)))
    }
  }

  /** Build per-partition graphs (identically to [[Hnsw.hnswTopK]]) and
    * persist their structure, clustered one file per graph partition.
    *
    * `numPartitions` defaults to [[DeriveShards]]: the count comes from
    * the corpus size at `targetRows` rows per shard (one bounded count
    * job at build time), and the target is recorded in the meta sidecar
    * so versioned REBUILDS re-derive at the grown size — on fixed
    * hardware a frozen count turns corpus growth into shard-size growth
    * and the build inherits the ~n^1.27 per-shard exponent (measured,
    * SCALE.md round 18). Pass an explicit count to pin the layout. */
  def save(df: DataFrame, path: String,
      m: Int = 16, efConstruction: Int = 64, numPartitions: Int = DeriveShards,
      vecCol: String = "vector", idCol: String = "id",
      targetRows: Int = TargetShardRows): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
    val derived = numPartitions == DeriveShards
    val parts =
      if (derived) derivedShards(base.count(), targetRows) else numPartitions
    val prepared = base
      .repartition(parts, col(idCol))
      .sortWithinPartitions(idCol)
    prepared
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val part = TaskContext.getPartitionId()
        val index = new HnswIndex(m, efConstruction, seed = 42L + part)
        rows.foreach { case (id, vec) => index.insert(id, vec) }
        val dumped = index.dump()
        val n = dumped.length
        dumped.zipWithIndex.map { case ((id, vec, level, adj, isEntry), ord) =>
          (part, ord, id, vec, level, adj, isEntry, n)
        }
      }
      .toDF("part", "ord", "id", "vector", "node_level", "adj", "is_entry", "part_rows")
      // NO re-shuffle before the partitioned write: each build task's
      // output is exactly one `part` (part == its partition id), so the
      // dynamic partition writer already lands one file per graph dir —
      // a repartition(part) here would move every dumped byte (vectors +
      // adjacency, larger than the input) across a second exchange just
      // to re-derive a grouping the tasks already have
      .write.mode("overwrite").partitionBy("part").parquet(path)
    writeMeta(spark, path, m, efConstruction, parts,
      if (derived) Some(targetRows) else None)
  }

  /** CLUSTER-COHERENT twin of [[save]] — the routed layout that kills the
    * all-shards fan-out at query time. [[save]] shards by id hash, so every
    * shard is a RANDOM sample of the corpus: any query's true neighbors are
    * spread uniformly across shards, every shard centroid sits at the
    * global mean, and no routing signal can exist — serving MUST search
    * every graph. Here shard membership is spatial instead: k-means
    * centroids ([[Ivf.fit]]'s seeded, sample-bounded fit) assign each
    * vector to its nearest of `numShards` centers, each cluster becomes
    * one HNSW graph, and the centroids persist as a routing sidecar. A
    * query then probes only the `probes` shards whose centroids it is most
    * similar to ([[Nearest]]) — the distributed analog of HNSW's own
    * entry-point descent (the upper levels route the query to the right
    * region of ONE graph, vervectordb/__init__.py:116-122; the centroid
    * sidecar routes it to the right GRAPHS), and the same probe-pruning
    * the IVF inverted-list layout proves.
    *
    * Graphs build per CLUSTER, not per task (a task may hold several
    * clusters after the hash repartition; each builds its own seeded graph
    * with `part` = shard id, so the layout's partition dirs ARE the
    * routing targets and the probe filter prunes at the file level).
    * K-means balance keeps shard sizes within a small factor; the build
    * stays deterministic (seeded fit, per-shard seed, id-sorted inserts). */
  def saveRouted(df: DataFrame, path: String, numShards: Int = DeriveShards,
      m: Int = 16, efConstruction: Int = 64,
      vecCol: String = "vector", idCol: String = "id",
      targetRows: Int = RoutedTargetShardRows): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vector"))
    // numShards defaults to the DERIVED policy like [[save]] (corpus
    // count / targetRows, floor DefaultMinShards, target recorded for
    // rebuilds). The routed target is finer than the hash target — the
    // measured sweep: smaller spatial shards route better AND build
    // faster. Note the routing sidecar holds one centroid per shard
    // driver-side: at extreme derived counts (≥ ~10⁶ shards) the sidecar
    // itself needs a coarse-to-fine hierarchy — out of scope here, the
    // probe walk already bounds the per-query cost.
    val derived = numShards == DeriveShards
    val shards =
      if (derived) derivedShards(base.count(), targetRows) else numShards
    val (_, model) = Ivf.fit(base, "vector", k = shards)
    // assign WITHOUT Ivf.fit's widen exchange (the cluster repartition
    // below provides the build parallelism — the ivfLayout shape)
    Ivf.assign(base, model, "vector")
      .select(col("id"), col("vector"), col("cluster_id"))
      .repartition(shards, col("cluster_id"))
      .sortWithinPartitions(col("cluster_id"), col("id"))
      .as[(Long, Array[Double], Int)]
      .mapPartitions { rows =>
        // rows arrive sorted by (cluster, id): stream each cluster run
        // straight into its graph — one insert per row, never a second
        // copy of the task's vectors (a groupBy would hold the whole
        // task's rows AND the graphs; at build scale that doubles peak
        // memory). A task may hold several clusters (hash collisions are
        // certain at numShards ~ partitions); each run builds its own
        // seeded graph with part = SHARD id, so the layout's partition
        // dirs are the routing targets.
        // NOT named `buffered`: inside the anonymous Iterator subclass
        // below, that name would resolve to the INHERITED Iterator.buffered
        // method (this.buffered), silently shadowing this val
        val runs = rows.buffered
        new Iterator[Iterator[Rec]] {
          def hasNext: Boolean = runs.hasNext
          def next(): Iterator[Rec] = {
            val shard = runs.head._3
            val index = new HnswIndex(m, efConstruction, seed = 42L + shard)
            while (runs.hasNext && runs.head._3 == shard) {
              val (id, vec, _) = runs.next()
              index.insert(id, vec)
            }
            val dumped = index.dump().toSeq
            val n = dumped.length
            dumped.iterator.zipWithIndex.map {
              case ((id, vec, level, adj, isEntry), ord) =>
                (shard, ord, id, vec, level, adj, isEntry, n)
            }
          }
        }.flatten
      }
      .toDF("part", "ord", "id", "vector", "node_level", "adj", "is_entry", "part_rows")
      // NO re-shuffle before the partitioned write (see [[save]]): every
      // cluster run lives wholly in one build task after the cluster_id
      // repartition, so the dynamic partition writer already lands one
      // file per shard dir — the removed repartition(part) was a second
      // full exchange of the dumped graphs
      .write.mode("overwrite").partitionBy("part").parquet(path)
    writeMeta(spark, path, m, efConstruction, shards,
      if (derived) Some(targetRows) else None)
    writeRouting(spark, path, model.centroids)
  }

  /** Stored rows plus whether the layout carries per-shard row counts.
    * Layouts persisted before `part_rows` existed read with a −1 sentinel:
    * the structural completeness assertion can't run for them, so serving
    * takes the grouping-shuffle path (always complete groups) instead of
    * failing on the missing column. */
  private def storedRecords(spark: SparkSession, path: String): (Dataset[Rec], Boolean) = {
    import spark.implicits._
    val raw = spark.read.parquet(path)
    val hasPartRows = raw.columns.contains("part_rows")
    val partRows = if (hasPartRows) col("part_rows").cast("int") else lit(-1)
    (raw.select(col("part").cast("int"), col("ord").cast("int"),
        col("id").cast("long"), col("vector").cast("array<double>"),
        col("node_level").cast("int"), col("adj").cast("array<array<bigint>>"),
        col("is_entry"), partRows.as("part_rows"))
      .as[Rec], hasPartRows)
  }

  /** True iff no data file can be byte-range split across read tasks, i.e.
    * every task is guaranteed to hold complete graph partitions. Listed
    * through the Hadoop `FileSystem` API so the answer is correct on ANY
    * filesystem (HDFS/S3 included — a local-`File` walk returns nothing
    * there and would vacuously pass). The threshold mirrors Spark's own
    * `FilePartition.maxSplitBytes`: min(maxPartitionBytes, max(openCost,
    * totalBytes/minPartitionNum)) — files above it CAN split even when
    * under maxPartitionBytes (small-total scans lower the split size to
    * raise parallelism). */
  private def filesUnsplit(spark: SparkSession, path: String,
      parts: Option[Seq[Int]] = None): Boolean = {
    val conf = spark.sessionState.conf
    val (fs, p) = hadoopFs(spark, path)
    if (!fs.exists(p)) return false
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    // when the scan is partition-pruned, Spark computes its split size
    // from the SELECTED files only — a smaller total lowers bytesPerCore
    // and can split a file the all-files computation says is safe. Mirror
    // the pruning here: list only the probed shard directories, so the
    // answer matches the scan this serving call actually runs.
    val roots = parts match {
      case None => Seq(p)
      case Some(ps) => ps.map(n => new org.apache.hadoop.fs.Path(p, s"part=$n"))
        .filter(fs.exists(_))
    }
    roots.foreach { root =>
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (f.getLen > 0 && !name.startsWith("_") && !name.startsWith(".")) sizes += f.getLen
      }
    }
    val openCost = conf.filesOpenCostInBytes
    // Spark's formula falls back to leafNodeDefaultParallelism (when set)
    // before sparkContext.defaultParallelism; mirror that exactly — though
    // the part_rows assertion in `served` remains the authoritative guard
    // if this heuristic ever disagrees with Spark's actual splitting.
    val minPartNum = conf.filesMinPartitionNum.getOrElse(
      spark.conf.getOption("spark.sql.leafNodeDefaultParallelism").map(_.toInt)
        .getOrElse(spark.sparkContext.defaultParallelism))
    val totalBytes = sizes.map(_ + openCost).sum
    val bytesPerCore = totalBytes / math.max(1, minPartNum)
    val maxSplit = math.min(conf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore))
    sizes.forall(_ <= maxSplit)
  }

  /** Rebuild one shard's graph from its stored rows, asserting the group
    * is structurally complete against the stored shard row count — a split
    * shard fails loudly, never serves partial-graph results. Lives in its
    * own Serializable object so executor-side closures capture IT rather
    * than the (cache-holding, non-serializable) HnswStore module. Restore
    * takes [[HnswIndex]]'s default `m`/`efConstruction` (see object doc). */
  private object RestoreGroup extends Serializable {
    def apply(grp: Seq[Rec]): HnswIndex = {
      val expected = grp.head._8
      if (expected >= 0 && grp.size != expected)
        throw new IllegalStateException(
          s"partial HNSW graph shard: part ${grp.head._1} holds ${grp.size} of " +
            s"$expected rows in one task — a stored file was split across read " +
            "tasks; rebuild with more shards or serve via the grouping shuffle")
      HnswIndex.restore(
        grp.sortBy(_._2).map { case (_, _, id, vec, level, adj, isEntry, _) =>
          (id, vec, level, adj, isEntry)
        })
    }

    /** Every graph whose rows one read task holds, restored in place. */
    def task(rows: Iterator[Rec]): Iterator[(Int, HnswIndex)] =
      rows.toSeq.groupBy(_._1).iterator.map { case (part, grp) => part -> apply(grp) }

    /** The per-graph search every serving path runs: `accept` null =
      * unfiltered, else threaded into the beam. */
    def search(q: Array[Double], k: Int, efSearch: Int, accept: Long => Boolean)
        : (Int, HnswIndex) => Iterator[(Long, Double)] =
      (_, idx) => idx.searchFiltered(q, k, efSearch, accept).iterator
  }

  /** The stored rows of one serve: the selected shards (`parts`, pruned on
    * the partition column), and whether every task is guaranteed complete
    * graphs — legacy layouts (no part_rows) lack the structural guard, so
    * they always take the grouping shuffle (complete groups by
    * construction) rather than trusting the listing heuristic alone. */
  private final case class Stored(rows: Dataset[Rec], inPlace: Boolean)

  private def stored(spark: SparkSession, path: String, parts: Option[Seq[Int]]): Stored = {
    val (all, hasPartRows) = storedRecords(spark, path)
    // shard routing: the probe filter is on the layout's PARTITION column,
    // so Catalyst prunes unprobed shard files from the scan entirely
    // (PartitionFilters — the inverted-list shape, plan-asserted in spec)
    val rows = parts.fold(all)(ps => all.filter(col("part").isin(ps: _*)))
    Stored(rows, hasPartRows && filesUnsplit(spark, path, parts))
  }

  /** Restore every graph co-resident with a task and run `search` on it,
    * in one plan (the one-shot serve: nothing outlives the query).
    * Restoration goes through [[RestoreGroup]]'s structural completeness
    * assertion. */
  private def served[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, path: String, parts: Option[Seq[Int]])(
      search: (Int, HnswIndex) => Iterator[T]): Dataset[T] = {
    import spark.implicits._
    val st = stored(spark, path, parts)
    if (st.inPlace)
      st.rows.mapPartitions(rows =>
        RestoreGroup.task(rows).flatMap { case (part, idx) => search(part, idx) })
    else
      st.rows.groupByKey(_._1).flatMapGroups((part, rows) =>
        search(part, RestoreGroup(rows.toSeq)))
  }

  /** The single-query DataFrame tail every serve shares: sims rounded to
    * 6 places, ranked (sim DESC, id ASC), cut at `k`. */
  private def ranked(hits: Dataset[(Long, Double)], k: Int, idCol: String): DataFrame =
    hits.toDF(idCol, "sim")
      .withColumn("sim", round(col("sim"), 6))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)

  /** A layout's graphs restored ONCE and kept resident in Spark's block
    * cache — the reference's build-once/search-from-memory lifecycle
    * (`build_hnsw_index`/`hnsw_search`, vervectordb/__init__.py:367-409)
    * on a cluster. Creating the handle reads the routing sidecar once and
    * restores every shard through the same body as the one-shot serve
    * ([[RestoreGroup]]: in place when no file can split, else after the
    * grouping shuffle), persisting the graphs as `RDD[(shard, HnswIndex)]`
    * at `MEMORY_ONLY`; one job materializes them and records which cached
    * partition holds which shard.
    *
    * Each [[search]] then prunes that RDD to the partitions holding the
    * shards its [[ProbeRule]] probes (`PartitionPruningRDD`) and runs the
    * beam searches in those tasks: one job, no file scan, no restore. The
    * scheduler prefers the executors that hold the blocks. Under memory
    * pressure Spark's memory manager may evict a block; the next query
    * recomputes it from lineage — re-reading and restoring that
    * partition's shards from the layout — so eviction costs time, never a
    * wrong answer.
    *
    * The handle snapshots the layout as it was on creation: files
    * rewritten or deleted underneath it do not change its answers while
    * its blocks stay cached (an evicted block restores from whatever the
    * layout then holds). Whoever owns the layout [[unpersist]]s the
    * handle when it rebuilds or replaces it. Thread-safe: concurrent
    * searches share the graphs ([[HnswIndex.searchFiltered]] keeps its
    * state per call). */
  final class ResidentGraphs private[HnswStore] (spark: SparkSession, val path: String,
      routing: Option[Ivf.IvfModel], graphs: RDD[(Int, HnswIndex)],
      partitionOf: Map[Int, Int]) {

    /** The one-shot [[HnswStore.search]] answer for the same arguments, as
      * a lazy DataFrame. */
    def search(query: Seq[Double], k: Int, rule: ProbeRule = AllShards,
        accept: Long => Boolean = null, efSearch: Int = 128): DataFrame = {
      import spark.implicits._
      val keep = rule.shards(routing.getOrElse(throw noRouting(path)), query, k).map(_.toSet)
      val partitions = keep.fold(partitionOf.values.toSet)(_.flatMap(partitionOf.get))
      val searchOne = RestoreGroup.search(query.toArray, k, efSearch, accept)
      val hits = PartitionPruningRDD.create(graphs, partitions)
        .mapPartitions(_.flatMap { case (part, idx) =>
          if (keep.forall(_(part))) searchOne(part, idx) else Iterator.empty
        })
      ranked(spark.createDataset(hits), k, "id")
    }

    def unpersist(): Unit = graphs.unpersist(blocking = false)
  }

  /** Restore `path`'s graphs once and keep them resident (see
    * [[ResidentGraphs]]). */
  def resident(spark: SparkSession, path: String): ResidentGraphs = {
    val st = stored(spark, path, None)
    val recs = st.rows.rdd
    val graphs =
      if (st.inPlace) recs.mapPartitions(RestoreGroup.task)
      else recs.groupBy(_._1).map { case (part, rows) => part -> RestoreGroup(rows.toSeq) }
    graphs.setName(s"hnsw graphs $path").persist(StorageLevel.MEMORY_ONLY)
    // the one job that restores every shard; a failed restore (a split
    // shard's completeness assertion) must not leave the RDD persisted
    val partitionOf =
      try graphs.mapPartitionsWithIndex((i, it) => it.map { case (part, _) => part -> i })
        .collect().toMap
      catch { case e: Throwable => graphs.unpersist(blocking = false); throw e }
    new ResidentGraphs(spark, path, readRouting(spark, path).map(Ivf.IvfModel(_)),
      graphs, partitionOf)
  }

  /** First publish of a graph layout under a [[graft.store.VersionedLayout]]
    * root — the serving-safe lifecycle twin of [[save]] (rebuilds land as
    * the next version; readers keep their snapshot). Returns the committed
    * version directory. */
  def saveVersioned(df: DataFrame, root: String,
      m: Int = 16, efConstruction: Int = 64, numPartitions: Int = DeriveShards,
      vecCol: String = "vector", idCol: String = "id",
      targetRows: Int = TargetShardRows): String =
    graft.store.VersionedLayout.publish(df.sparkSession, root)(dir =>
      save(df, dir, m, efConstruction, numPartitions, vecCol, idCol, targetRows))

  /** [[saveVersioned]] for the ROUTED layout ([[saveRouted]] under a
    * versioned root); [[maintainDelta]] detects the sidecar and keeps
    * rebuilds routed. */
  def saveRoutedVersioned(df: DataFrame, root: String,
      numShards: Int = DeriveShards,
      m: Int = 16, efConstruction: Int = 64,
      vecCol: String = "vector", idCol: String = "id",
      targetRows: Int = RoutedTargetShardRows): String =
    graft.store.VersionedLayout.publish(df.sparkSession, root)(dir =>
      saveRouted(df, dir, numShards, m, efConstruction, vecCol, idCol, targetRows))

  /** The live graph version under a versioned root. */
  def currentGraph(spark: SparkSession, root: String): String =
    graft.store.VersionedLayout.currentDir(spark, root)
      .getOrElse(throw new IllegalStateException(s"no committed graph under $root"))

  /** Automated delta compaction — the graph-index analog of
    * [[Ivf.maintainClustered]], closing the lifecycle that
    * [[graft.streaming.StreamingIngest.ingestWithHnswDelta]] opens (each
    * micro-batch appends rows to `deltaPath`; merge serving re-scores
    * them exactly per query, so its cost grows with the delta):
    *
    *  1. measure the delta fraction (delta rows / graph nodes — two
    *     cheap counts);
    *  2. at or below `maxDeltaFraction` → no-op (merge serving is still
    *     cheaper than a rebuild);
    *  3. above it → rebuild the graphs over base ∪ delta with the
    *     layout's OWN build-time hyperparameters (meta sidecar) as the
    *     next version of `graphRoot`, then clear the consumed delta.
    *
    * The rebuild is deterministic ([[save]] repartitions by id and sorts
    * within partitions), so the maintained graph is IDENTICAL to a fresh
    * build over the same rows. Readers of the previous version are
    * undisturbed (versioned publish); a crash between publish and delta
    * clear leaves rows present in both graph and delta — serving stays
    * correct because [[graft.streaming.StreamingIngest.hnswDeltaSearch]]
    * deduplicates candidates by id, and the next maintenance run clears
    * the delta. Single-writer contract like every maintenance pass.
    * Returns (live graph dir, whether a rebuild happened). */
  def maintainDelta(spark: SparkSession, graphRoot: String, deltaPath: String,
      maxDeltaFraction: Double = 0.2,
      vecCol: String = "vector", idCol: String = "id"): (String, Boolean) = {
    val current = currentGraph(spark, graphRoot)
    val base = spark.read.parquet(current).select(col("id"), col("vector"))
    if (!graft.store.Fs.exists(spark, deltaPath)) return (current, false)
    // only rows the graph does NOT already cover count toward the rebuild
    // decision — after a crash between publish and delta clear, the
    // leftover delta is fully covered, and counting it would (a) inflate
    // the signal with rows a rebuild can't improve and (b) leave the
    // stale delta in place forever (the documented recovery: it is
    // cleared HERE, on the first maintenance pass that sees it covered)
    val delta = spark.read.parquet(deltaPath)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vector"))
    val newDelta = delta.join(base.select("id"), Seq("id"), "left_anti")
    val nNew = newDelta.count()
    if (nNew == 0) {
      // nothing uncovered: drop the (possibly crash-leftover) delta so
      // merge serving stops paying for rows the graph already answers
      graft.store.Fs.delete(spark, deltaPath)
      (current, false)
    } else {
      val nBase = base.count()
      if (nNew.toDouble <= maxDeltaFraction * math.max(1L, nBase))
        (current, false)
      else {
        val (m, ef, np) = readMeta(spark, current).getOrElse((16, 64, 32))
        // shard-count policy for the rebuild: a layout BUILT under the
        // derived policy (targetRows in its meta sidecar) RE-DERIVES at
        // the grown corpus size — this is where a frozen count would
        // silently turn growth into shard-size growth and inherit the
        // superlinear per-shard build exponent at every compaction; an
        // explicitly-pinned layout keeps its pin (the caller chose it).
        // Passing (DeriveShards, target) through save/saveRouted also
        // re-RECORDS the target, so the policy survives every rebuild.
        val target = readTargetRows(spark, current)
        // the rebuild preserves the layout KIND: a routed live version
        // (routing sidecar present) rebuilds routed — fresh k-means +
        // sidecar over base ∪ delta — else compaction would silently strip
        // routing and downgrade serving to the all-shards fan-out
        val routed = readRouting(spark, current).isDefined
        val next = graft.store.VersionedLayout.publish(spark, graphRoot) { dir =>
          target match {
            case Some(t) =>
              if (routed) saveRouted(base.union(newDelta), dir,
                numShards = DeriveShards, m = m, efConstruction = ef,
                targetRows = t)
              else save(base.union(newDelta), dir, m, ef,
                numPartitions = DeriveShards, targetRows = t)
            case None =>
              if (routed) saveRouted(base.union(newDelta), dir, numShards = np,
                m = m, efConstruction = ef)
              else save(base.union(newDelta), dir, m, ef, np)
          }
        }
        graft.store.Fs.delete(spark, deltaPath)
        (next, true)
      }
    }
  }

  /** Per-shard node counts of a stored layout — the adaptive walk's mass
    * input ([[Adaptive]]): one cheap aggregate (≤ shards rows
    * back), computed once per layout and memoized by callers beside the
    * routing sidecar, exactly like [[Ivf.clusterSizes]]. */
  def shardSizes(spark: SparkSession, path: String): Map[Int, Long] = {
    val raw = spark.read.parquet(path)
    // layouts carry the shard's row count on every row (`part_rows`, the
    // restore completeness guard) — one distinct over two small columns
    // answers the question without aggregating the corpus-sized rows;
    // equality with the full count is exactly the invariant restore
    // asserts. Pre-part_rows layouts keep the counting path.
    if (raw.columns.contains("part_rows"))
      raw.select(col("part").cast("int"), col("part_rows").cast("long"))
        .distinct()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    else
      raw.groupBy("part").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  /** Mean member-to-centroid cosine distance of a routed layout — the
    * shard-geometry scale the adaptive margin is expressed in (a true
    * top-k neighbor's shard centroid sits within about best-distance +
    * radius of the query, so the probe slack is β·radius — dimensionless
    * in the data's own units, unlike any absolute constant). One
    * aggregate over the layout against the broadcast routing sidecar;
    * computed once per layout and memoized by callers beside the sizes. */
  def meanShardRadius(spark: SparkSession, path: String): Double = {
    val cents = readRouting(spark, path).getOrElse(throw noRouting(path))
    val centDf = spark.createDataFrame(
      cents.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
      .toDF("part", "_cent")
    val row = spark.read.parquet(path).select(col("part"), col("vector"))
      .join(broadcast(centDf), "part")
      .agg(avg(lit(1.0) - graft.GraftExtensions.cosineSim(col("vector"), col("_cent"))))
      .head
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** The adaptive walk's per-layout statistics, bundled so serving paths
    * thread one memoized value: per-shard node counts (the mass guard) and
    * the mean shard radius (the margin scale). */
  final case class RoutedStats(sizes: Map[Int, Long], radius: Double)

  /** One-pass-each collection of [[RoutedStats]] for a stored layout. */
  def routedStats(spark: SparkSession, path: String): RoutedStats =
    RoutedStats(shardSizes(spark, path), meanShardRadius(spark, path))

  /** Shard-radius multiplier of the adaptive walk's margin term — probe
    * every shard whose centroid cosine-distance is within
    * `best + MarginBeta · meanShardRadius`. MEASURED on the DevRoutedSweep
    * adaptive grid at sf0.1/64 shards (RECALL.md round 8): β=2 probes a
    * mean 5.5 shards (8.6% scanned) at recall 0.995 — ABOVE the fixed-8
    * rule's 0.985 at 12.5% scanned — because the margin spends probes on
    * the flat-curve (dense-region) queries whose neighbors scatter and
    * stops at 3 for sharp-curve queries whose neighbors concentrate. */
  val MarginBeta = 2.0

  /** Cap on the adaptive probe list — at thousands of shards a pathological
    * near-tie (e.g. a query at the corpus centroid) must not fan out
    * unboundedly; twice the fixed operating point bounds the worst case at
    * a constant. */
  val MaxAdaptiveProbes = 16

  /** Which shards a serve searches for one query. Every serve takes one
    * rule, and [[ProbeRule.shards]] is the one driver-side resolver that
    * turns it into a probe list. Routed rules rank the shards by the
    * layout's routing sidecar ([[saveRouted]]); a hash-sharded layout has
    * none and serves only [[AllShards]]. */
  sealed trait ProbeRule {
    /** The shards probed for `query` at top-`k` (None = every shard), ranked
      * by `routing` — read only when the rule routes. Both routed rules
      * probe a prefix of the centroid ranking. */
    final def shards(routing: => Ivf.IvfModel, query: Seq[Double], k: Int)
        : Option[Seq[Int]] =
      if (this == AllShards) None
      else {
        val model = routing
        Some(new graft.functions.IvfKernel(model.centroids)
          .probes(query.toArray, stop(model.k, k)).toSeq)
      }

    /** This rule as a stop of the one centroid walk
      * ([[graft.functions.IvfKernel.probes]]) over `numShards` routing
      * centroids at top-`k`; [[AllShards]] walks every centroid. */
    private[graft] final def stop(numShards: Int, k: Int): graft.functions.ProbeStop =
      this match {
        case AllShards => graft.functions.ProbeStop.nearest(numShards)
        case Nearest(n) => graft.functions.ProbeStop.nearest(n)
        case Adaptive(st, overscan, minProbes) =>
          graft.functions.ProbeStop(Array.tabulate(numShards)(c => st.sizes.getOrElse(c, 0L)),
            overscan.toLong * k, minProbes, MarginBeta * st.radius, MaxAdaptiveProbes)
      }
  }

  /** Every shard: the all-shards fan-out, restoring every graph. */
  case object AllShards extends ProbeRule

  /** The `n` shards whose routing centroids are most similar to the query
    * — the distributed analog of HNSW's own entry-point descent, and the
    * same probe pruning as IVF (boundary losses bounded by multi-probing;
    * recall vs [[AllShards]] is spec-gated). */
  final case class Nearest(n: Int) extends ProbeRule

  /** The probe list chosen per query by the margin-extended centroid walk
    * ([[graft.functions.IvfKernel.probes]] over the routing sidecar and
    * `stats`): it keeps probing while the candidate mass is below
    * `overscan · k` (the skew guard) OR the shard's centroid distance is
    * within `best + MarginBeta · stats.radius` (boundary coverage — the
    * recall driver for routed graphs), never fewer than `minProbes` and
    * never more than [[MaxAdaptiveProbes]] shards. A query deep inside one
    * cluster probes `minProbes` shards; a boundary query extends to its
    * near-tied neighbours. Recall vs the fixed rule is spec-gated at fewer
    * mean probed shards (RecallSpec, RECALL.md round 8). */
  final case class Adaptive(stats: RoutedStats, overscan: Int = 16,
      minProbes: Int = 3) extends ProbeRule

  /** The rule a layout serves by default: [[AllShards]] for a hash-sharded
    * layout; for a routed one, [[Nearest]] over half the shards it was
    * built with (at least 2), the same scanned-fraction default as the
    * reference's IVF probe count. The count is the routing sidecar's, one
    * centroid per built shard, so a derived-count layout probes half the
    * shards it actually has. */
  def defaultRule(spark: SparkSession, path: String): ProbeRule =
    defaultRule(readRouting(spark, path))

  private def defaultRule(routing: Option[Array[Array[Double]]]): ProbeRule =
    routing.fold[ProbeRule](AllShards)(centroids =>
      Nearest(math.max(2, centroids.length / 2)))

  private def routingModel(spark: SparkSession, path: String): Ivf.IvfModel =
    Ivf.IvfModel(readRouting(spark, path).getOrElse(throw noRouting(path)))

  private def noRouting(path: String) = new IllegalStateException(
    s"no routing sidecar at $path — routed serving needs a saveRouted layout")

  /** The shards `rule` probes for `query` on the layout at `path` — exposed
    * so gates and harnesses can assert the probed count, not just the
    * result quality. */
  private[graft] def probedShards(spark: SparkSession, path: String,
      query: Seq[Double], k: Int, rule: ProbeRule): Option[Seq[Int]] =
    rule.shards(routingModel(spark, path), query, k)

  /** Approximate top-`k` for one query over the persisted graphs: resolve
    * `rule` driver-side (a tiny model, exactly like IVF probe selection),
    * then restore and search the probed graphs IN PLACE (no shuffle — see
    * object doc) and merge globally. The scan's partition filter prunes
    * every unprobed shard's files, so at thousands of shards a lookup
    * touches a constant number of graph files.
    *
    * `accept` (null = unfiltered) is threaded into each graph's beam
    * ([[HnswIndex.searchFiltered]]), so the beam keeps expanding until it
    * holds `k` ACCEPTED results — a selective filter returns a full `k`
    * where the reference's 3k-overfetch-then-post-filter starves. It may
    * be an exact id set's `contains` (the set ships once per task in the
    * closure) or, at warehouse scale, a Bloom filter's `mightContain`
    * built in one distributed pass over the qualifying ids: its false
    * positives admit a few non-matching candidates, so that caller
    * re-checks exactly and should fetch a small multiple of `k`. Routing
    * and filtering compose: every row is accepted, and recall is bounded
    * by routing (an accepted neighbour in an unprobed shard is missed). */
  def search(spark: SparkSession, path: String, query: Seq[Double], k: Int,
      rule: ProbeRule = AllShards, accept: Long => Boolean = null,
      efSearch: Int = 128, idCol: String = "id"): DataFrame =
    searchShards(spark, path, query, k, rule.shards(routingModel(spark, path), query, k),
      accept, efSearch, idCol)

  /** [[search]] under the layout's [[defaultRule]], reading the routing
    * sidecar once for both the rule and its probe list. */
  private[graft] def searchDefault(spark: SparkSession, path: String,
      query: Seq[Double], k: Int, efSearch: Int, idCol: String): DataFrame = {
    val routing = readRouting(spark, path)
    val parts = defaultRule(routing).shards(
      Ivf.IvfModel(routing.getOrElse(throw noRouting(path))), query, k)
    searchShards(spark, path, query, k, parts, null, efSearch, idCol)
  }

  private def searchShards(spark: SparkSession, path: String, query: Seq[Double],
      k: Int, parts: Option[Seq[Int]], accept: Long => Boolean, efSearch: Int,
      idCol: String): DataFrame = {
    import spark.implicits._
    ranked(served(spark, path, parts)(
      RestoreGroup.search(query.toArray, k, efSearch, accept)), k, idCol)
  }

  /** Top-`k` for a collected query set in ONE job: each graph restores
    * once for the whole set (the amortization [[Hnsw.hnswBatchTopK]] gets
    * from building once — here even the restore is amortized). Under a
    * routed rule the scan is pruned to the UNION of every query's probed
    * shards and each restored graph serves only the queries that probed
    * it (per-query work stays that query's probe list, not the union).
    * Ranking is the k-bounded per-group aggregator. Returns
    * (query_id, idCol, sim, rn) like the other batch paths. */
  def batchSearch(spark: SparkSession, path: String,
      queries: Seq[(Long, Seq[Double])], k: Int, rule: ProbeRule = AllShards,
      efSearch: Int = 128, idCol: String = "id"): DataFrame = {
    import spark.implicits._
    lazy val routing = routingModel(spark, path)
    // probes resolve PER ENTRY, not per qid: a duplicated query id with
    // two different vectors must route each vector by its own centroids
    // (a qid-keyed map would search the first vector in the second's
    // shards); duplicate entries then simply merge under the shared qid
    // in the aggregator, like the non-routed batch paths
    val entries = queries.map { case (qid, q) =>
      (qid, q.toArray, rule.shards(routing, q, k).map(_.toSet))
    }
    val union =
      if (rule == AllShards) None
      else Some(entries.flatMap(_._3.toSeq.flatten).distinct.sorted)
    val perPartition = served(spark, path, union) { (part, idx) =>
      entries.iterator.filter(_._3.forall(_(part))).flatMap { case (qid, q, _) =>
        idx.search(q, k, efSearch).map { case (id, sim) => (qid, id, sim) }
      }
    }.toDF("query_id", idCol, "sim_raw")
    graft.operators.TopK.perGroupTopK(perPartition, "query_id", col(idCol), col("sim_raw"), k)
      .withColumnRenamed("id", idCol)
  }

  /** [[batchSearch]] for query sets too large to collect: the queries
    * stay a DataFrame end-to-end. Each query row resolves `rule` with the
    * codegen'd [[graft.functions.ProbeClusters]] walk over the routing
    * centroids (the same ranking and stop rule as
    * [[ProbeRule.shards]] — BigBatchSpec gates exact result parity), then
    * a COGROUP on the shard id pairs every shard's stored graph rows with
    * exactly the queries that probed it: one grouping shuffle of (query,
    * shard) entries against the graph rows, graph restored once per shard,
    * no driver or broadcast materialization of anything query-sized. Needs
    * a routed layout for every rule ([[AllShards]] probes every centroid).
    *
    * There is deliberately no partition-filter pruning here: a big batch's
    * probed-shard union approaches all shards, so the scan reads the
    * layout once — the pruning that matters is per-shard (each graph
    * serves only its own queries via the cogroup). */
  def bigBatchSearch(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, rule: ProbeRule = AllShards, efSearch: Int = 128, idCol: String = "id",
      queryIdCol: String = "query_id", queryVecCol: String = "qvec",
      acceptIds: Option[DataFrame] = None, bloomFpp: Double = 0.01): DataFrame = {
    import spark.implicits._
    val model = routingModel(spark, path)
    // the rule evaluated per query ROW by the codegen'd walk — the walk
    // ProbeRule.shards runs, so probe sets match the collected paths
    // exactly (BigBatchSpec-gated). The adaptive
    // walk spends probes on boundary queries and stops early on
    // concentrated ones, so the cogroup volume tracks per-query need
    // instead of |queries|·probes.
    val probeList = graft.functions.ModelExpressions.probeClusters(
      col("qvec"), model.centroids, rule.stop(model.k, k))
    val probed = graft.operators.Par.widen(queries)
      .select(col(queryIdCol).cast("long").as("query_id"),
        col(queryVecCol).cast("array<double>").as("qvec"))
      .select(col("query_id"), col("qvec"),
        explode(probeList).as("part"))
      .as[(Long, Seq[Double], Int)]
    // S5 at query-set scale for the GRAPH family: beam-THREADED filtering
    // behind an approximate membership test — `acceptIds` (a one-column id
    // frame, the caller's predicate applied to its metadata table) builds
    // a Bloom filter in ONE bounded distributed pass (`df.stat
    // .bloomFilter` — megabytes for hundreds of millions of ids, shipped
    // once per task), each graph's beam keeps expanding until it holds k
    // bloom-accepted results (no overfetch starvation — the
    // [[search]] `accept` contract), and Bloom false positives are
    // removed by an exact LEFT SEMI re-check afterwards. The re-check can
    // leave a query with slightly fewer than k rows exactly when a false
    // positive displaced a true match in the beam (probability ~fpp per
    // result slot — tune `bloomFpp` down if k-exactness matters more than
    // filter bytes). Recall remains bounded by shard routing like every
    // routed path.
    // nothing qualifies → nothing to search: an empty Bloom rejects every
    // id, and a beam that can never hold k accepted results walks each
    // probed shard's whole connected component once PER QUERY ROW just to
    // return zero.
    // the id frame is consumed three times (count, Bloom build, exact
    // re-check) — CacheRegistry.cached so an expensive filter predicate
    // scans once, not thrice (registry eviction bounds the footprint)
    val acceptCounted = acceptIds.map { ids =>
      val idsOnly = graft.store.CacheRegistry.cached(ids.select(col(idCol)))
      (idsOnly, idsOnly.count())
    }
    if (acceptCounted.exists(_._2 == 0L))
      return Seq.empty[(Long, Long, Double, Long)]
        .toDF("query_id", idCol, "sim", "rn")
    val bloom = acceptCounted.map { case (idsOnly, n) =>
      idsOnly.stat.bloomFilter(idCol, n, bloomFpp)
    }
    val (all, _) = storedRecords(spark, path)
    val perShard = all.groupByKey(_._1).cogroup(probed.groupByKey(_._3)) {
      (part, recs, qs) =>
        if (qs.isEmpty) Iterator.empty
        else {
          val grp = recs.toSeq
          if (grp.isEmpty) Iterator.empty
          else {
            val idx = RestoreGroup(grp)
            qs.flatMap { case (qid, q, _) =>
              (bloom match {
                case Some(bf) =>
                  idx.searchFiltered(q.toArray, k, efSearch, bf.mightContainLong)
                case None => idx.search(q.toArray, k, efSearch)
              }).map { case (id, sim) => (qid, id, sim) }
            }
          }
        }
    }.toDF("query_id", idCol, "sim_raw")
    val checked = acceptCounted.foldLeft(perShard) { case (d, (idsOnly, _)) =>
      d.join(idsOnly.hint("shuffle_hash"), Seq(idCol), "leftsemi")
    }
    graft.operators.TopK.perGroupTopK(checked, "query_id", col(idCol), col("sim_raw"), k)
      .withColumnRenamed("id", idCol)
  }
}
