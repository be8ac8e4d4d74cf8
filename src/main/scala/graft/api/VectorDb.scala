package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.{Hnsw, Ivf, IvfPq}
import graft.pq.ProductQuantizer
import graft.search.VectorSearch
import graft.store.VectorStore

/** One-object facade with the reference `VerVectorDB` API surface
  * (vervectordb/__init__.py:221-594): a user of the reference can switch to
  * this class and run every operation they run today, executed Spark-first.
  *
  * State is a versioned immutable DataFrame
  * (id LONG, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>) plus small
  * driver-side models (IVF centroids, PQ codebooks). Mutations are
  * copy-on-write and indexes are maintained INCREMENTALLY — the
  * reference's insert-maintains-HNSW semantics (`:264-265`) without its
  * staleness bugs (delete leaves stale IVF row indices that silently
  * return wrong rows, `:324-335`, SURVEY.md §2 W4): IVF re-assigns live
  * rows with the existing centroids, and HNSW serves through a
  * delta-merge (see [[refreshIndexesOnWrite]]).
  *
  * Ids are deterministic sequence numbers rather than uuid4 (`:251`) —
  * reproducible and oracle-testable (SURVEY.md §7).
  *
  * Index hyperparameters are constructor state like the reference's
  * (`hnsw_M`/`hnsw_ef_construction`/`pq_n_subquantizers`/`pq_n_bits`,
  * `:222-240`). Defaults stay this engine's recall-gated 16/64 (the
  * documented deviation from the reference's 32/200 — SURVEY.md §6);
  * passing 32/200 reproduces the reference's parameters exactly. They
  * survive [[save]]/[[VectorDb.load]] via the meta sidecar.
  *
  * `strict = true` reproduces the reference's error semantics on absent
  * ids: `get_by_id`/`update`/`delete` raise `KeyError` (`:302-303`,
  * `:311-335`) — here `NoSuchElementException`. The default keeps this
  * engine's Option/no-op semantics (each existence check is a driver
  * round-trip a distributed engine shouldn't pay per write unless asked).
  */
final class VectorDb(val spark: SparkSession, val dim: Int,
    val hnswM: Int = 16, val hnswEfConstruction: Int = 64,
    val pqM: Int = 8, val pqNBits: Int = 8, val strict: Boolean = false) {

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("metadata", MapType(StringType, StringType), nullable = true)))

  private var data: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row], schema)
  private var nextId: Long = 0L
  private var ivf: Option[(DataFrame, Ivf.IvfModel)] = None
  private var ivfPq: Option[(DataFrame, IvfPq.IvfPqModel)] = None
  private var pq: Option[ProductQuantizer] = None
  private var hnswPath: Option[String] = None
  /** True when the persisted layout is cluster-coherent with a routing
    * sidecar ([[buildHnswIndex]] routed=true, or detected on load):
    * clean serving probes top-p shards instead of every graph. */
  private var hnswRouted: Boolean = false
  /** True when hnswPath is a temp dir this instance created (deletable);
    * false when it points into a loaded save directory. */
  private var hnswOwned: Boolean = false
  /** Ids below this watermark are covered by the persisted graph; ids at or
    * above it were inserted after the build and live in the DELTA region,
    * searched exactly and merged with graph candidates (ids are sequence
    * numbers, so the watermark is just the build-time nextId). */
  private var hnswCoveredUpTo: Long = 0L
  /** Set by update/delete: graph-covered rows may have changed, so serving
    * switches to the merge path (candidates re-scored against live rows —
    * deleted ids drop out, updated vectors re-score). */
  private var hnswMutated: Boolean = false

  // ---- sign-LSH layout lifecycle state (mirrors the HNSW fields above:
  // a persisted, versioned layout + watermark/mutation flags that route
  // serving between the clean stored path and the merge path) ----
  private var lshRoot: Option[String] = None
  private var lshModel: Option[graft.index.LshAnn.LshTables] = None
  private var lshNumTables: Int = graft.index.LshAnn.DefaultTables
  private var lshNumBits: Int = graft.index.LshAnn.DefaultBits
  private var lshOwned: Boolean = false
  private var lshOwnedRoot: Option[String] = None
  private var lshCoveredUpTo: Long = 0L
  private var lshMutated: Boolean = false

  private def dropOwnedLsh(): Unit = {
    if (lshOwned) lshOwnedRoot.foreach(deletePath)
    lshOwnedRoot = None
  }

  // ---- binary (1-bit) code layout lifecycle state (the codec analog of
  // the HNSW fields: persisted codes + watermark/mutation flags; encode
  // is closed-form, so rebuilds are one fit aggregate + one write) ----
  private var bin: Option[(graft.pq.BinaryQuantizer, String)] = None
  private var binOwnedRoot: Option[String] = None
  private var binCoveredUpTo: Long = 0L
  private var binMutated: Boolean = false

  private var pca: Option[(graft.pq.Pca.Model, String)] = None
  private var pcaOwnedRoot: Option[String] = None
  private var pcaCoveredUpTo: Long = 0L
  private var pcaMutated: Boolean = false

  private def dropOwnedPca(): Unit = {
    pcaOwnedRoot.foreach(deletePath)
    pcaOwnedRoot = None
  }

  private def dropOwnedBin(): Unit = {
    binOwnedRoot.foreach(deletePath)
    binOwnedRoot = None
  }

  // ---- z-order clustered data layout lifecycle state (mirrors the HNSW
  // fields: a persisted, versioned layout + watermark/mutation flags —
  // appends land in the live DELTA and decay pruning until the
  // maintenance tick re-clusters) ----
  private var zorderRoot: Option[String] = None
  private var zorderKeys: Seq[String] = Nil
  private var zorderBits: Int = 16
  private var zorderFiles: Int = 32
  private var zorderOwnedRoot: Option[String] = None
  private var zorderCoveredUpTo: Long = 0L
  private var zorderMutated: Boolean = false

  private def dropOwnedZOrder(): Unit = {
    zorderOwnedRoot.foreach(deletePath)
    zorderOwnedRoot = None
  }

  /** Materialize the z-key metadata entries as typed TOP-LEVEL columns
    * (`zk_<key>`): map-value extractions carry no parquet footer stats,
    * so data skipping needs real leaf columns in the layout. */
  private def withZKeyCols(df: DataFrame): DataFrame =
    zorderKeys.foldLeft(df)((acc, k) =>
      acc.withColumn(s"zk_$k", element_at(col("metadata"), k).cast("long")))

  /** Z-cluster the table by N numeric metadata keys
    * ([[graft.operators.ZOrder]]): the analytics-side data layout — a box
    * predicate over the materialized `zk_<key>` columns prunes most files
    * on footer min/max stats alone. Published as a versioned layout so
    * re-clustering runs next to serving; appends after the build live in
    * the delta region ([[zorderScan]] unions them, unpruned) until
    * [[maintainIndexes]] re-clusters past the delta threshold — the
    * append-decay lifecycle ZOrderSpec measures. Keys must be present and
    * numeric on every row (the non-null-key precondition
    * [[graft.operators.ZOrder.writeClustered]] enforces). */
  def buildZOrderLayout(keys: Seq[String], bits: Int = 16,
      numFiles: Int = 32): Unit = {
    require(keys.nonEmpty, "buildZOrderLayout: need at least one key")
    zorderKeys = keys
    zorderBits = bits
    zorderFiles = numFiles
    val root = zorderRoot.getOrElse {
      val r = graft.store.Fs.scratchDir(spark, "graft_zorder_db")
      zorderOwnedRoot = Some(r)
      r
    }
    graft.store.VersionedLayout.publish(spark, root)(dir =>
      graft.operators.ZOrder.writeClustered(
        withZKeyCols(data), dir, keys.map("zk_" + _), bits, numFiles))
    zorderRoot = Some(root)
    zorderCoveredUpTo = nextId
    zorderMutated = false
  }

  /** The z-clustered scan: the pruned layout plus the live delta (rows
    * inserted since the last cluster — scanned unpruned, which is the
    * decay the maintenance tick bounds). After an update/delete of
    * covered rows the layout is stale, so the scan falls back to the live
    * table entirely until the next re-cluster. */
  def zorderScan(): DataFrame = {
    val root = zorderRoot.getOrElse(
      throw new IllegalStateException("z-order layout not built"))
    if (zorderMutated) withZKeyCols(data)
    else {
      val cur = graft.store.VersionedLayout.currentDir(spark, root).getOrElse(
        throw new IllegalStateException(s"no committed z-order version under $root"))
      spark.read.parquet(cur)
        .unionByName(withZKeyCols(data.where(col("id") >= zorderCoveredUpTo)))
    }
  }

  /** Streaming semantic-dedup state root registered for scheduled
    * compaction ([[attachSemanticState]] / [[maintainIndexes]]). */
  private var semanticStatePath: Option[String] = None

  /** Register a streaming semantic-dedup state root
    * ([[graft.streaming.StreamingIngest.semanticDedupIngest]]'s
    * `statePath`) with this facade's maintenance tick: every
    * [[maintainIndexes]] call then folds the state's `assigned/`/`probed/`
    * dirs when their file counts exceed the tick's threshold. The state is
    * created and written by the streaming job, not this facade — this is a
    * registration seam, so ONE scheduled invocation covers every
    * file-count-bounded layout the deployment owns. Call between
    * micro-batches only (writer quiescence — the compaction contract). */
  def attachSemanticState(statePath: String): Unit =
    semanticStatePath = Some(statePath)

  // ---- near-dup component layout lifecycle state (the dedup-side twin
  // of the vector index state above: a persisted versioned assignment +
  // a covered-batch watermark that routes maintenance between delta
  // re-propagation and a fresh re-contraction) ----
  private var componentDocs: Option[(DataFrame, String)] = None
  private var componentPairPath: Option[String] = None
  private var componentRoot: Option[String] = None
  /** Pair batches at or below this watermark are folded into the current
    * component version; later batches are the delta the next
    * [[maintainIndexes]] tick re-propagates. Persisted in the version
    * dir's sidecar, so a re-attach resumes where the layout left off. */
  private var componentCoveredBatch: Long = -1L
  private var componentCoveredPairs: Long = 0L

  private val ComponentStateFile = "_graft_component_state"

  /** Register a near-dup COMPONENT layout with this facade's maintenance
    * tick — the move that puts [[graft.dedup.Dedup.incrementalComponents]]
    * on the scheduler next to the IVF/HNSW/LSH/binary loops instead of
    * leaving it a manual operator. `pairLayoutPath` is a
    * `batch=<id>`-partitioned near-dup pair layout (da, db) — the growth
    * shape every incremental path in this engine writes — and
    * `componentLayoutRoot` a [[graft.store.VersionedLayout]] root this
    * facade owns. If the root has no committed version, the FULL
    * assignment (isolated docs labeled self) contracts fresh over the
    * current pair batches and publishes as v0; otherwise the current
    * version resumes at its recorded watermark. Each later
    * [[maintainIndexes]] tick folds grown batches: delta re-propagation
    * while the growth stays inside the tick's `maxDeltaFraction` of the
    * covered pair count, a fresh re-contraction once the delta dominates
    * (past that point the delta's own contraction cost approaches the
    * full rebuild, and the rebuild re-tightens the star layout). */
  def attachComponentState(docs: DataFrame, idCol: String,
      pairLayoutPath: String, componentLayoutRoot: String): Unit = {
    componentDocs = Some((docs, idCol))
    componentPairPath = Some(pairLayoutPath)
    componentRoot = Some(componentLayoutRoot)
    graft.store.VersionedLayout.currentDir(spark, componentLayoutRoot) match {
      case Some(cur) =>
        val (covered, pairs) = readComponentState(cur)
        componentCoveredBatch = covered
        componentCoveredPairs = pairs
      case None if !graft.store.Fs.exists(spark, pairLayoutPath) =>
        // attaching BEFORE any pair batch has landed is a legitimate
        // startup order (the pair writer and the facade start together);
        // publish the all-isolated v0 — every doc its own component,
        // watermark (-1, 0) — so the first maintenance tick that sees
        // batch 0 folds it as a normal delta instead of this attach
        // dying on a raw path-not-found AnalysisException
        publishComponents(
          docs.select(col(idCol).cast("long").as(idCol),
            col(idCol).cast("long").as("component")),
          -1L, 0L)
      case None =>
        val pairs = spark.read.parquet(pairLayoutPath)
        val st = pairs.agg(
          coalesce(max(col("batch").cast("long")), lit(-1L)),
          org.apache.spark.sql.functions.count(lit(1))).head
        val (maxBatch, nPairs) = (st.getLong(0), st.getLong(1))
        publishComponents(
          graft.dedup.Dedup.connectedComponents(docs, idCol, pairs),
          maxBatch, nPairs)
    }
  }

  /** Publish a FULL component assignment as the next version, carrying
    * the covered-watermark sidecar inside the version dir (readers of the
    * version see the assignment and its provenance atomically — the
    * commit-marker protocol makes both visible together or not at all). */
  private def publishComponents(assignment: DataFrame, coveredBatch: Long,
      coveredPairs: Long): Unit = {
    graft.store.VersionedLayout.publish(spark, componentRoot.get) { dir =>
      assignment.write.parquet(dir)
      graft.store.Fs.writeSidecar(spark, s"$dir/$ComponentStateFile",
        s"$coveredBatch $coveredPairs\n")
    }
    componentCoveredBatch = coveredBatch
    componentCoveredPairs = coveredPairs
  }

  private def readComponentState(versionDir: String): (Long, Long) = {
    val txt = graft.store.Fs.readSidecar(
      spark, s"$versionDir/$ComponentStateFile").getOrElse(
      throw new IllegalArgumentException(
        s"$versionDir: no $ComponentStateFile sidecar — not a " +
          "facade-managed component layout"))
    graft.store.Fs.parseLongs(txt, 2) match {
      case Some(Seq(b, n)) => (b, n)
      case _ => throw new IllegalArgumentException(
        s"$versionDir: torn $ComponentStateFile sidecar ('$txt')")
    }
  }

  /** The current component assignment (facade read surface; the version
    * snapshot a maintenance tick may supersede without disturbing it). */
  def componentAssignment(): DataFrame = {
    val root = componentRoot.getOrElse(throw new IllegalStateException(
      "no component layout attached"))
    val cur = graft.store.VersionedLayout.currentDir(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed component version under $root"))
    spark.read.parquet(cur)
  }

  /** Read frame of the LIVE layout version, memoized per version dir — a
    * fresh `spark.read.parquet` re-lists the layout's ~L·2^bits partition
    * dirs (~5 s at sf0.1, several times the query itself), so serving
    * reuses the frame until a rebuild publishes a new version (the key is
    * the version dir, so invalidation is automatic). */
  private var lshFrameMemo: Option[(String, DataFrame)] = None

  private def lshLayoutFrame(root: String): DataFrame = {
    val cur = graft.index.LshAnn.currentLayout(spark, root)
    lshFrameMemo match {
      case Some((dir, df)) if dir == cur => df
      case _ =>
        val df = spark.read.parquet(cur)
        lshFrameMemo = Some((cur, df))
        df
    }
  }

  def count(): Long = data.count()
  def toDf: DataFrame = data

  private def checkDim(v: Seq[Double]): Unit =
    require(v.length == dim,
      s"vector dimension mismatch: expected $dim, got ${v.length}") // reference :243-245

  /** Empty-database guard on index builds — the reference raises
    * ValueError("数据库中无向量数据") before building/training on an empty
    * store (`:369` HNSW, `:414` IVF, `:491` PQ). One driver round-trip per
    * BUILD (not per write/search), so the parity costs nothing on the
    * serving path. */
  private def requireNonEmpty(op: String): Unit =
    if (data.isEmpty)
      throw new IllegalStateException(s"$op: no vector data in the database")

  /** Incremental index maintenance on write — the reference's
    * `insert`-maintains-HNSW semantics (vervectordb/__init__.py:264-265)
    * without its staleness bugs (stale IVF row indices silently return
    * wrong rows after delete, `:324-335`):
    *  - IVF: assignment is a pure function of (row, centroids), so the
    *    assigned view is re-derived from LIVE data with the existing
    *    centroids — one lazy narrow map, no refit, staleness impossible.
    *  - HNSW: the persisted graph is kept. Inserts land in the delta
    *    region above [[hnswCoveredUpTo]] (searched exactly, merged at
    *    query time); update/delete flips [[hnswMutated]] so candidates
    *    are re-scored against live rows. A deployment rebuilds
    *    ([[buildHnswIndex]]) when the delta fraction makes merge serving
    *    slower than a rebuild — the compaction decision, not a per-write
    *    cost. */
  private def refreshIndexesOnWrite(mutated: Boolean): Unit = {
    ivf = ivf.map { case (_, model) => (Ivf.assign(data, model), model) }
    ivfPq = ivfPq.map { case (_, model) => (IvfPq.encode(data, model), model) }
    ivfSnap.foreach(_.unpersist())
    ivfSnap = None
    ivfPqSnap.foreach(_.unpersist())
    ivfPqSnap = None
    if (mutated) {
      hnswMutated = true; lshMutated = true; binMutated = true
      pcaMutated = true; zorderMutated = true
    }
  }

  private def deletePath(path: String): Unit = graft.store.Fs.delete(spark, path)

  /** The exact directory this instance created for its owned HNSW layout
    * and may therefore delete recursively. For a caller-supplied scratch
    * this is the layout subdir ONLY (`<scratch>/g`) — deleting the
    * scratch's parent would destroy whatever else the caller keeps
    * there; for scratch dirs this instance created itself, it is that
    * whole directory. */
  private var hnswOwnedRoot: Option[String] = None

  /** Build-time partition count of the current graph — maintenance
    * rebuilds must reuse it (like every other persisted hyperparameter),
    * or the rebuilt graph answers differently than the one it replaces. */
  private var hnswNumPartitions: Int = 8

  /** The shards every clean serve of the current layout probes: its
    * [[graft.index.HnswStore.defaultRule]], resolved once per build or
    * load. */
  private var hnswRule: graft.index.HnswStore.ProbeRule = graft.index.HnswStore.AllShards

  /** The current layout's graphs, restored once and resident in the block
    * cache ([[graft.index.HnswStore.ResidentGraphs]]); created by the first
    * clean serve, dropped whenever the layout is rebuilt or replaced. */
  private var hnswResident: Option[graft.index.HnswStore.ResidentGraphs] = None

  private def residentGraphs(path: String): graft.index.HnswStore.ResidentGraphs =
    synchronized {
      hnswResident.filter(_.path == path).getOrElse {
        dropResidentGraphs()
        val r = graft.index.HnswStore.resident(spark, path)
        hnswResident = Some(r)
        r
      }
    }

  private def dropResidentGraphs(): Unit = synchronized {
    hnswResident.foreach(_.unpersist())
    hnswResident = None
  }

  private def dropOwnedHnsw(): Unit = {
    dropResidentGraphs()
    if (hnswOwned) hnswOwnedRoot.foreach(deletePath)
    hnswOwnedRoot = None
  }

  /** W1 `insert` — returns the new id. */
  def insert(vector: Seq[Double], metadata: Map[String, String] = Map.empty): Long =
    batchInsert(Seq((vector, metadata))).head

  /** W2 `batch_insert`. */
  def batchInsert(rows: Seq[(Seq[Double], Map[String, String])]): Seq[Long] = {
    rows.foreach { case (v, _) => checkDim(v) }
    val ids = rows.indices.map(nextId + _)
    // no more slices than rows: a small insert must not add empty
    // partitions that every later scan runs a task for
    val slices = math.max(1, math.min(rows.size, spark.sparkContext.defaultParallelism))
    val newRows = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.zip(ids).map { case ((v, m), id) => Row(id, v, m) }, slices),
      schema)
    data = VectorStore.insert(data, newRows, dim)
    nextId += rows.length
    refreshIndexesOnWrite(mutated = false)
    ids
  }

  private def fetchById(id: Long): Option[(Seq[Double], Map[String, String])] =
    VectorSearch.getById(data, id).collect().headOption.map { r =>
      (r.getSeq[Double](1), Option(r.getMap[String, String](2)).map(_.toMap).getOrElse(Map.empty))
    }

  /** S6 `get_by_id`. In strict mode an absent id throws (reference
    * KeyError, `:302-303`); otherwise None. */
  def getById(id: Long): Option[(Seq[Double], Map[String, String])] = {
    val r = fetchById(id)
    if (strict && r.isEmpty) throw new NoSuchElementException(s"id $id not found")
    r
  }

  /** S6 with the reference's raise-on-absent semantics regardless of
    * [[strict]]. */
  def getByIdOrThrow(id: Long): (Seq[Double], Map[String, String]) =
    fetchById(id).getOrElse(throw new NoSuchElementException(s"id $id not found"))

  private def requireExists(id: Long, op: String): Unit =
    if (strict && VectorSearch.getById(data, id).isEmpty)
      throw new NoSuchElementException(s"$op: id $id not found")

  /** W3 `update` — vector and/or metadata. Strict mode throws on an
    * absent id (reference KeyError, `:311-322`); otherwise a no-op
    * (callers can check getById first). */
  def update(id: Long, vector: Option[Seq[Double]] = None,
      metadata: Option[Map[String, String]] = None): Unit = {
    vector.foreach(checkDim)
    requireExists(id, "update")
    val assignments =
      vector.map(v => "vector" -> array(v.map(lit): _*).cast("array<double>")).toMap ++
        metadata.map(m => "metadata" ->
          map(m.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*).cast("map<string,string>")).toMap
    data = VectorStore.update(data, col("id") === id, assignments)
    refreshIndexesOnWrite(mutated = true)
  }

  /** W4 `delete`. Strict mode throws on an absent id (reference KeyError,
    * `:324-335`); otherwise a no-op. */
  def delete(id: Long): Unit = {
    requireExists(id, "delete")
    data = VectorStore.delete(data, col("id") === id)
    refreshIndexesOnWrite(mutated = true)
  }

  /** S1 `brute_force_search`: exact top-k (filter-first, SURVEY.md §2). */
  def bruteForceSearch(query: Seq[Double], topK: Int = 5,
      filter: Option[Column] = None): DataFrame = {
    checkDim(query)
    VectorSearch.bruteForceTopK(data, query, topK, filter)
  }

  /** W6 `build_ivf_index` (empty-db guard per reference `:414`). */
  def buildIvfIndex(k: Int = 16, seed: Long = 42L): Unit = {
    requireNonEmpty("build_ivf_index")
    ivf = Some(Ivf.fit(data, "vector", k, seed))
  }

  /** S3 `ivf_search`; requires buildIvfIndex (reference raises too, :428). */
  def ivfSearch(query: Seq[Double], topK: Int = 5,
      filter: Option[Column] = None): DataFrame = {
    checkDim(query)
    val (assigned, model) = ivf.getOrElse(
      throw new IllegalStateException("IVF index not built"))
    Ivf.search(assigned, model, query, topK, Ivf.defaultRule(model), filter)
  }

  /** Build the 1-bit code layout ([[graft.pq.BinaryQuantizer]]): fit the
    * midrange thresholds over live rows (one aggregate) and persist the
    * packed-word code table — stage 1 of [[binSearch]] scans THIS instead
    * of the vector column (32× fewer payload bits). In-session index:
    * [[save]] does not persist it (encode is closed-form — a loaded
    * instance rebuilds in one aggregate + one write). */
  def buildBinIndex(scratch: Option[String] = None): Unit = {
    requireNonEmpty("build_bin_index")
    dropOwnedBin()
    val bq = graft.pq.BinaryQuantizer.fit(data, "vector", dim)
    val (base, ownedRoot) = scratch match {
      case Some(s) => (s, s"$s/codes")
      case None =>
        val b = graft.store.Fs.scratchDir(spark, "graft_db_bin")
        (b, b)
    }
    val p = s"$base/codes"
    graft.pq.BinaryQuantizer.encodeDf(data, bq, "vector", "id")
      .write.mode("overwrite").parquet(p)
    binOwnedRoot = Some(ownedRoot)
    bin = Some((bq, p))
    binCoveredUpTo = nextId
    binMutated = false
  }

  /** Two-stage binary serving over the persisted codes ([[buildBinIndex]]
    * required, matching [[ivfSearch]]'s strictness): Hamming top-`rerank`
    * candidates from the code table, merged with the EXACT delta region
    * (ids at/above the build watermark — the [[hnswSearch]] delta
    * contract), then every candidate re-scored against LIVE rows, so
    * deletes drop out and updates re-score; update/delete also flips the
    * mutation flag that [[maintainIndexes]] folds into a rebuild. */
  def binSearch(query: Seq[Double], topK: Int = 5, rerank: Int = 100): DataFrame = {
    checkDim(query)
    val (bq, path) = bin.getOrElse(
      throw new IllegalStateException("binary index not built"))
    // pruned candidate fetch (the graft.search.IdFetch discipline): the
    // Hamming cut is driver-bounded, so its ids push into the live-table
    // scan as an IN list instead of probing the whole table as a join
    val candIds = spark.read.parquet(path)
      .select(col("id"), bq.hammingExpr(bq.pack(query)).as("ham"))
      .orderBy(col("ham").asc, col("id").asc)
      .limit(rerank)
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    val sim = round(graft.functions.VectorFunctions.cosineQuery(col("vector"), query), 6)
    // legs are disjoint: codes cover only ids below the build watermark
    graft.search.IdFetch.fetchByIds(data, "id", candIds)
      .union(data.where(col("id") >= binCoveredUpTo))
      .select(col("id"), sim.as("sim"))
      .orderBy(col("sim").desc, col("id").asc)
      .limit(topK)
  }

  /** Build the PCA-reduced layout ([[graft.pq.Pca]]): fit on this table's
    * vectors at r = max(1, min(16, dim/4)) components — the 4× byte
    * reduction where the dimension affords it, a plain rotation at tiny
    * reference dims — and persist the projected (id, p0..p{r−1}) table.
    * Same lifecycle contract as [[buildBinIndex]]: owned scratch dropped
    * on rebuild, watermark for the exact delta region, mutation flag
    * folded by [[maintainIndexes]]. */
  def buildPcaIndex(scratch: Option[String] = None): Unit = {
    requireNonEmpty("build_pca_index")
    dropOwnedPca()
    val r = math.max(1, math.min(graft.pq.Pca.R, dim / 4))
    val m = graft.pq.Pca.fit(data, "vector", dim, "id", r)
    val (base, ownedRoot) = scratch match {
      case Some(s) => (s, s"$s/proj")
      case None =>
        val b = graft.store.Fs.scratchDir(spark, "graft_db_pca")
        (b, b)
    }
    val p = s"$base/proj"
    data.select(col("id") +: graft.pq.Pca.projectionCols(col("vector"), m): _*)
      .write.mode("overwrite").parquet(p)
    pcaOwnedRoot = Some(ownedRoot)
    pca = Some((m, p))
    pcaCoveredUpTo = nextId
    pcaMutated = false
  }

  /** Two-stage PCA serving over the persisted projections
    * ([[buildPcaIndex]] required, [[binSearch]]'s exact contract):
    * subspace-L2 top-`rerank` candidates from the reduced table, merged
    * with the EXACT delta region (ids at/above the build watermark), then
    * every candidate re-scored against LIVE rows — deletes drop out,
    * updates re-score, and mutation flips the [[maintainIndexes]] rebuild
    * flag. */
  def pcaSearch(query: Seq[Double], topK: Int = 5, rerank: Int = 100): DataFrame = {
    checkDim(query)
    val (m, path) = pca.getOrElse(
      throw new IllegalStateException("pca index not built"))
    // pruned candidate fetch — the binSearch shape over the subspace cut
    val candIds = spark.read.parquet(path)
      .select(col("id"), graft.pq.Pca.coarseDistExpr(
        graft.pq.Pca.project(query, m)).as("d2"))
      .orderBy(col("d2").asc, col("id").asc)
      .limit(rerank)
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    val sim = round(graft.functions.VectorFunctions.cosineQuery(col("vector"), query), 6)
    graft.search.IdFetch.fetchByIds(data, "id", candIds)
      .union(data.where(col("id") >= pcaCoveredUpTo))
      .select(col("id"), sim.as("sim"))
      .orderBy(col("sim").desc, col("id").asc)
      .limit(topK)
  }

  /** Save/load path of this instance, when known — the default parent for
    * owned index scratch layouts, so build-then-save keeps everything under
    * one caller-visible directory. */
  private var homePath: Option[String] = None

  /** W5 `build_hnsw_index` (`:367-377`): build the per-partition graphs
    * once and persist their structure ([[graft.index.HnswStore]]), so
    * subsequent [[hnswSearch]] calls restore instead of rebuilding —
    * the reference's build-once semantics.
    *
    * The layout lands at `scratch` when given, else under `_scratch` in
    * this instance's save/load directory, else a session scratch dir —
    * always created through [[graft.store.Fs]] on the cluster-visible
    * filesystem. (A `java.nio.file` temp dir here would be driver-local:
    * executors on a real cluster can neither write the build nor read the
    * serve, so the facade's index would only ever work in local mode.) */
  def buildHnswIndex(numPartitions: Int = 8,
      scratch: Option[String] = None, routed: Boolean = false): Unit = {
    requireNonEmpty("build_hnsw_index") // reference :369
    dropOwnedHnsw()
    // ownedRoot = what a rebuild may recursively delete: for a CALLER'S
    // scratch dir, only the layout subdir this build creates; for
    // directories this instance creates itself, the whole directory
    val (base, ownedRoot) = scratch match {
      case Some(s) => (s, s"$s/g")
      case None =>
        val b = homePath match {
          case Some(h) =>
            val p = s"$h/_scratch/hnsw-${System.nanoTime()}"
            val (fs, hp) = graft.store.Fs.pathFs(spark, p)
            require(fs.mkdirs(hp), s"cannot create scratch dir $hp")
            p
          case None => graft.store.Fs.scratchDir(spark, "vectordb_hnsw")
        }
        (b, b)
    }
    val p = s"$base/g"
    // routed = the extension past reference W5: cluster-coherent shards +
    // centroid routing sidecar, so clean serving probes top-p shards
    // instead of restoring every graph (the 100×-shard-count path;
    // [[graft.index.HnswStore.saveRouted]])
    if (routed)
      graft.index.HnswStore.saveRouted(data, p, numShards = numPartitions,
        m = hnswM, efConstruction = hnswEfConstruction)
    else
      graft.index.HnswStore.save(data, p, m = hnswM,
        efConstruction = hnswEfConstruction, numPartitions = numPartitions)
    hnswPath = Some(p)
    hnswRouted = routed
    hnswOwned = true
    hnswOwnedRoot = Some(ownedRoot)
    hnswNumPartitions = numPartitions
    hnswRule = graft.index.HnswStore.defaultRule(spark, p)
    hnswCoveredUpTo = nextId
    hnswMutated = false
    // a rebuild into the SAME dir at the SAME watermark (e.g. after
    // delete/update-only mutations into a caller-supplied scratch) runs a
    // fresh k-means — shard ids denote different regions — so the memo
    // key (path, watermark) alone cannot see it; drop eagerly (the
    // resident graphs, keyed by path alone, went in dropOwnedHnsw above)
    hnswStatsMemo = None
  }

  /** Build the persisted sign-LSH inverted-list layout
    * ([[graft.index.LshAnn.saveBucketed]]) under a VERSIONED root — the
    * training-free ANN path joins the facade lifecycle the other indexes
    * have: build → stored bucket-pruned serving ([[lshSearch]]); rebuilds
    * land as the next version under the SAME root, so readers keep their
    * snapshot and a crash mid-rebuild leaves the previous version live
    * ([[graft.store.VersionedLayout]]); [[maintainIndexes]] schedules
    * rebuilds on the same delta/mutation thresholds as HNSW. */
  def buildLshIndex(numTables: Int = graft.index.LshAnn.DefaultTables,
      numBits: Int = graft.index.LshAnn.DefaultBits,
      scratch: Option[String] = None): Unit = {
    requireNonEmpty("build_lsh_index")
    val root = lshRoot match {
      case Some(r) => r // rebuild: next version under the same root
      case None =>
        val (base, ownedRoot) = scratch match {
          case Some(s) => (s"$s/lsh", s"$s/lsh")
          case None =>
            val b = homePath match {
              case Some(h) =>
                val p = s"$h/_scratch/lsh-${System.nanoTime()}"
                val (fs, hp) = graft.store.Fs.pathFs(spark, p)
                require(fs.mkdirs(hp), s"cannot create scratch dir $hp")
                p
              case None => graft.store.Fs.scratchDir(spark, "vectordb_lsh")
            }
            (b, b)
        }
        lshOwned = true
        lshOwnedRoot = Some(ownedRoot)
        base
    }
    val (_, model) = graft.index.LshAnn.saveVersioned(data, "vector", "id",
      root, dim, numTables, numBits)
    lshRoot = Some(root)
    lshModel = Some(model)
    lshNumTables = numTables
    lshNumBits = numBits
    lshCoveredUpTo = nextId
    lshMutated = false
  }

  /** The versioned LSH root currently serving, if any (test/inspection
    * seam — e.g. asserting rebuilds land as new versions). */
  private[graft] def lshIndexRoot: Option[String] = lshRoot

  /** Approximate top-k via the persisted LSH layout. Clean (no writes
    * since build, no filter) → stored bucket-pruned serving
    * ([[graft.index.LshAnn.searchStored]]). Otherwise the merge path keeps
    * results correct the same way [[hnswSearch]]'s does: stored candidates
    * (overfetched ×[[FilterOverfetch]]) re-score against LIVE rows —
    * deleted ids drop out, updated vectors re-score — and the delta region
    * above the build watermark is searched exactly and unioned in before
    * the final top-k; a metadata filter applies over the live rows. */
  def lshSearch(query: Seq[Double], topK: Int = 5,
      probes: Int = graft.index.LshAnn.DefaultProbes,
      filter: Option[Column] = None): DataFrame = {
    checkDim(query)
    val root = lshRoot.getOrElse(
      throw new IllegalStateException("LSH index not built"))
    val model = lshModel.get
    val layout = lshLayoutFrame(root)
    if (!lshMutated && lshCoveredUpTo == nextId && filter.isEmpty)
      graft.index.LshAnn.searchStored(layout, model, query, topK,
        graft.index.LshAnn.Directed(probes))
    else {
      val candIds = graft.index.LshAnn.searchStored(layout, model, query,
        topK * FilterOverfetch, graft.index.LshAnn.Directed(probes)).select(col("id"))
      val deltaIds = data.where(col("id") >= lshCoveredUpTo).select(col("id"))
      val subset = data.join(candIds.union(deltaIds).distinct(), Seq("id"))
      VectorSearch.bruteForceTopK(subset, query, topK, filter)
    }
  }

  /** The persisted graph layout currently serving, if any (test/inspection
    * seam — e.g. asserting the routing sidecar survives maintenance). */
  private[graft] def hnswIndexPath: Option[String] = hnswPath

  /** Scheduled index maintenance — the compaction decision the
    * incremental-serving paths defer ([[refreshIndexesOnWrite]] keeps
    * serving correct after writes; THIS is the operator a deployment
    * schedules to decide when incremental serving should fold back into
    * fresh artifacts, mirroring the engine-level loops
    * [[graft.index.Ivf.maintainClustered]] /
    * [[graft.index.HnswStore.maintainDelta]] on the facade's own state):
    *
    *  - HNSW: rebuilt when the persisted graph serves through the merge
    *    path (update/delete invalidation) or when the delta region above
    *    the build watermark exceeds `maxDeltaFraction` of the graph —
    *    merge serving re-scores the delta exactly per query, so its cost
    *    grows with the delta while a rebuild amortizes it away. No-op
    *    when no graph was ever built (nothing to compact — fresh-build
    *    serving has no delta).
    *  - IVF / IVF-PQ: centroids refit when the mean assignment distance
    *    over live rows exceeds `ivfDriftThreshold` (assignment stays a
    *    pure function of live rows meanwhile, so this is a quality
    *    decision, not a correctness one). Off unless a threshold is
    *    given — drift scale is data-dependent.
    *  - LSH small files: when the live layout was NOT rebuilt this tick
    *    and its data-file count exceeds `maxDataFiles` (streaming appends
    *    leave ≤ 1 file per touched dir per batch), the folded copy
    *    publishes as the NEXT version
    *    ([[graft.index.LshAnn.compactVersioned]] — content-preserving;
    *    readers keep their snapshot, the dir-keyed serving memo
    *    invalidates itself).
    *  - Streaming semantic-dedup state: when a state root was registered
    *    ([[attachSemanticState]]), its `assigned/`/`probed/` dirs fold on
    *    the same `maxDataFiles` threshold
    *    ([[graft.streaming.StreamingIngest.compactSemanticState]]) — the
    *    operator that is NOT on the scheduler is the one that rots at
    *    real ingest rates, so the facade tick covers every
    *    file-count-bounded layout the deployment owns.
    *
    *  - Binary codes: rebuilt on mutation or past-threshold delta like
    *    HNSW, but the codec is closed-form, so the rebuild is one fit
    *    aggregate + one write (no graph/k-means cost).
    *
    *  - Near-dup components: when an attached pair layout
    *    ([[attachComponentState]]) grew past its covered batch watermark,
    *    the assignment refreshes — delta re-propagation
    *    ([[graft.dedup.Dedup.incrementalComponents]], cost independent of
    *    the historical pair count) while the growth stays inside
    *    `maxDeltaFraction` of the covered pair count, a fresh
    *    re-contraction once the delta dominates. Published as the NEXT
    *    version (readers keep their snapshot).
    *
    * Returns the actions taken ("hnsw_rebuilt", "ivf_refit",
    * "ivfpq_refit", "lsh_rebuilt", "lsh_compacted", "bin_rebuilt",
    * "bin_dropped", "semantic_compacted:<dir>", "components_propagated",
    * "components_rebuilt"), empty when everything was within bounds. */
  def maintainIndexes(maxDeltaFraction: Double = 0.2,
      ivfDriftThreshold: Option[Double] = None,
      maxDataFiles: Int = 64): Seq[String] = {
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    if (hnswPath.isDefined) {
      // one aggregate scan for both counts (not two jobs over `data`)
      val counts = data.agg(
        org.apache.spark.sql.functions.count(lit(1)),
        org.apache.spark.sql.functions.count(when(col("id") >= hnswCoveredUpTo, 1))).head
      val totalRows = counts.getLong(0)
      val deltaRows = counts.getLong(1)
      val graphRows = math.max(1L, totalRows - deltaRows)
      if (totalRows == 0L) {
        // every row deleted: there is nothing to rebuild over — drop the
        // index instead of crashing the scheduled job on the empty-db
        // build guard; searches fall back to the (empty) fresh path
        dropOwnedHnsw()
        hnswPath = None
        hnswRouted = false
        hnswOwned = false
        hnswMutated = false
        actions += "hnsw_dropped"
      } else if (hnswMutated || deltaRows.toDouble > maxDeltaFraction * graphRows) {
        // rebuild preserves the layout KIND: a routed index stays routed
        // (fresh k-means + sidecar over the live rows), an id-hash one
        // stays id-hash
        buildHnswIndex(numPartitions = hnswNumPartitions, routed = hnswRouted)
        actions += "hnsw_rebuilt"
      }
    }
    if (lshRoot.isDefined) {
      val counts = data.agg(
        org.apache.spark.sql.functions.count(lit(1)),
        org.apache.spark.sql.functions.count(when(col("id") >= lshCoveredUpTo, 1))).head
      val totalRows = counts.getLong(0)
      val deltaRows = counts.getLong(1)
      val baseRows = math.max(1L, totalRows - deltaRows)
      if (totalRows == 0L) {
        dropOwnedLsh()
        lshRoot = None
        lshModel = None
        lshOwned = false
        lshMutated = false
        actions += "lsh_dropped"
      } else if (lshMutated || deltaRows.toDouble > maxDeltaFraction * baseRows) {
        // rebuild with the layout's own hyperparameters as the NEXT
        // version under the same root — readers keep their snapshot
        buildLshIndex(lshNumTables, lshNumBits)
        actions += "lsh_rebuilt"
      } else {
        // no rebuild this tick: fold streaming-append small files. The
        // folded copy lands as the NEXT version (readers keep their
        // snapshot; the dir-keyed serving memo invalidates itself)
        if (graft.index.LshAnn.compactVersioned(spark, lshRoot.get, maxDataFiles))
          actions += "lsh_compacted"
      }
    }
    if (bin.isDefined) {
      val counts = data.agg(
        org.apache.spark.sql.functions.count(lit(1)),
        org.apache.spark.sql.functions.count(when(col("id") >= binCoveredUpTo, 1))).head
      val totalRows = counts.getLong(0)
      val deltaRows = counts.getLong(1)
      val baseRows = math.max(1L, totalRows - deltaRows)
      if (totalRows == 0L) {
        dropOwnedBin()
        bin = None
        binMutated = false
        actions += "bin_dropped"
      } else if (binMutated || deltaRows.toDouble > maxDeltaFraction * baseRows) {
        // closed-form codec: the rebuild is one fit aggregate + one write
        buildBinIndex()
        actions += "bin_rebuilt"
      }
    }
    if (pca.isDefined) {
      val counts = data.agg(
        org.apache.spark.sql.functions.count(lit(1)),
        org.apache.spark.sql.functions.count(when(col("id") >= pcaCoveredUpTo, 1))).head
      val totalRows = counts.getLong(0)
      val deltaRows = counts.getLong(1)
      val baseRows = math.max(1L, totalRows - deltaRows)
      if (totalRows == 0L) {
        dropOwnedPca()
        pca = None
        pcaMutated = false
        actions += "pca_dropped"
      } else if (pcaMutated || deltaRows.toDouble > maxDeltaFraction * baseRows) {
        // sample-bounded fit + one projection write
        buildPcaIndex()
        actions += "pca_rebuilt"
      }
    }
    if (zorderRoot.isDefined) {
      val counts = data.agg(
        org.apache.spark.sql.functions.count(lit(1)),
        org.apache.spark.sql.functions.count(when(col("id") >= zorderCoveredUpTo, 1))).head
      val totalRows = counts.getLong(0)
      val deltaRows = counts.getLong(1)
      val baseRows = math.max(1L, totalRows - deltaRows)
      if (totalRows == 0L) {
        dropOwnedZOrder()
        zorderRoot = None
        zorderMutated = false
        actions += "zorder_dropped"
      } else if (zorderMutated || deltaRows.toDouble > maxDeltaFraction * baseRows) {
        // re-cluster with the layout's own keys/bits/files as the NEXT
        // version — readers keep their snapshot; pruning is restored for
        // the whole table including the former delta
        buildZOrderLayout(zorderKeys, zorderBits, zorderFiles)
        actions += "zorder_reclustered"
      }
    }
    semanticStatePath.foreach { statePath =>
      graft.streaming.StreamingIngest
        .compactSemanticState(spark, statePath, maxDataFiles)
        .foreach(d => actions += s"semantic_compacted:$d")
    }
    // a pre-first-batch attach published the all-isolated v0 with no pair
    // layout on disk yet; until the writer lands batch 0 there is nothing
    // to fold — skip this tick's component pass, don't die on a
    // path-not-found scan
    componentRoot.filter(_ =>
        graft.store.Fs.exists(spark, componentPairPath.get)).foreach { _ =>
      val (docs, idCol) = componentDocs.get
      val pairs = spark.read.parquet(componentPairPath.get)
      // one aggregate scan for the growth decision (not two jobs)
      val isNew = col("batch").cast("long") > componentCoveredBatch
      val st = pairs.agg(
        coalesce(max(col("batch").cast("long")), lit(-1L)),
        org.apache.spark.sql.functions.count(when(isNew, 1)),
        org.apache.spark.sql.functions.count(lit(1))).head
      val (maxBatch, deltaPairs, totalPairs) =
        (st.getLong(0), st.getLong(1), st.getLong(2))
      // a pair layout whose max batch fell BELOW the covered watermark
      // was rebuilt or truncated underneath the facade — the current
      // assignment was computed from pairs that no longer exist, and
      // silently no-op'ing every tick would serve it forever; fail
      // loudly (the operator re-attaches a fresh root for the new
      // layout, an explicit decision)
      require(maxBatch >= componentCoveredBatch,
        s"component pair layout ${componentPairPath.get} regressed: max " +
          s"batch $maxBatch is below the covered watermark " +
          s"$componentCoveredBatch — the layout was rebuilt or truncated; " +
          "attach a fresh component root for it")
      if (deltaPairs > 0L) {
        if (deltaPairs.toDouble >
            maxDeltaFraction * math.max(1L, componentCoveredPairs)) {
          // the delta dominates: re-contract fresh (and re-tighten the
          // star layout), same rule as the vector-index rebuilds above
          publishComponents(
            graft.dedup.Dedup.connectedComponents(docs, idCol, pairs),
            maxBatch, totalPairs)
          actions += "components_rebuilt"
        } else {
          // delta re-propagation: prior fixed point + new batches only —
          // cost independent of the historical pair count
          val prior = componentAssignment()
          val inc = graft.dedup.Dedup.incrementalComponents(
            prior, idCol, pairs.where(isNew))
          val merged = docs.select(col(idCol))
            .join(inc.withColumnRenamed("component", "__c"), Seq(idCol), "left")
            .select(col(idCol),
              coalesce(col("__c"), col(idCol).cast("long")).as("component"))
          publishComponents(merged, maxBatch, totalPairs)
          actions += "components_propagated"
        }
      }
    }
    ivfDriftThreshold.foreach { threshold =>
      ivf.foreach { case (assigned, model) =>
        if (Ivf.meanAssignmentDistance(assigned, model) > threshold) {
          buildIvfIndex(k = model.k)
          actions += "ivf_refit"
        }
      }
      ivfPq.foreach { case (_, model) =>
        val assigned = Ivf.assign(data, model.ivf)
        if (Ivf.meanAssignmentDistance(assigned, model.ivf) > threshold) {
          buildIvfPqIndex(k = model.ivf.k, m = model.pq.m, nBits = model.pq.nBits)
          actions += "ivfpq_refit"
        }
      }
    }
    actions.toSeq
  }

  /** Operational introspection: one row per index family with its live
    * serving state — what a deployment's dashboard or a maintenance
    * runbook reads before/after a [[maintainIndexes]] tick. Pure facade
    * state plus one bounded file count per PERSISTED layout (the
    * compaction trigger statistic); no data scans.
    *
    * Columns: family, built, path (null for in-memory families),
    * mutated (serving on the merge/re-score path), covered_up_to (ids
    * below this are in the persisted artifact; -1 where the concept
    * doesn't apply), files (data files in the layout; -1 for in-memory),
    * params (human-readable hyperparameters). */
  def describeIndexes(): DataFrame = {
    def fileCount(p: Option[String]): Long =
      p.map(graft.store.Fs.dataFileCount(spark, _).toLong).getOrElse(-1L)
    val rows = Seq(
      ("ivf", ivf.isDefined, null: String, false, -1L, -1L,
        ivf.map(m => s"k=${m._2.k}").getOrElse("")),
      ("ivfpq", ivfPq.isDefined, null: String, false, -1L, -1L,
        ivfPq.map(m => s"k=${m._2.ivf.k} m=${m._2.pq.m}").getOrElse("")),
      ("pq", pq.isDefined, null: String, false, -1L, -1L,
        pq.map(p => s"m=${p.m} nbits=${p.nBits}").getOrElse("")),
      ("hnsw", hnswPath.isDefined, hnswPath.orNull, hnswMutated,
        if (hnswPath.isDefined) hnswCoveredUpTo else -1L,
        fileCount(hnswPath),
        if (hnswPath.isDefined)
          s"partitions=$hnswNumPartitions routed=$hnswRouted" else ""),
      ("lsh", lshRoot.isDefined, lshRoot.orNull, lshMutated,
        if (lshRoot.isDefined) lshCoveredUpTo else -1L,
        // count the CURRENT layout version, not the whole versioned root
        // (which also holds retained grace versions) — this column must
        // agree with the maintainIndexes compaction trigger
        fileCount(lshRoot.map(r => graft.index.LshAnn.currentLayout(spark, r))),
        if (lshRoot.isDefined)
          s"tables=$lshNumTables bits=$lshNumBits" else ""),
      ("bin", bin.isDefined, bin.map(_._2).orNull, binMutated,
        if (bin.isDefined) binCoveredUpTo else -1L,
        fileCount(bin.map(_._2)),
        bin.map(b => s"words=${b._1.numWords}").getOrElse("")),
      ("pca", pca.isDefined, pca.map(_._2).orNull, pcaMutated,
        if (pca.isDefined) pcaCoveredUpTo else -1L,
        fileCount(pca.map(_._2)),
        pca.map(m => s"r=${m._1.components.length}").getOrElse("")),
      ("zorder", zorderRoot.isDefined, zorderRoot.orNull, zorderMutated,
        if (zorderRoot.isDefined) zorderCoveredUpTo else -1L,
        fileCount(zorderRoot.flatMap(r =>
          graft.store.VersionedLayout.currentDir(spark, r))),
        if (zorderRoot.isDefined)
          s"keys=${zorderKeys.mkString("+")} bits=$zorderBits" else ""),
      ("components", componentRoot.isDefined, componentRoot.orNull, false,
        // covered_up_to is the pair-BATCH watermark here (ids are batch
        // numbers for this family, not row ids)
        if (componentRoot.isDefined) componentCoveredBatch else -1L,
        fileCount(componentRoot.flatMap(r =>
          graft.store.VersionedLayout.currentDir(spark, r))),
        if (componentRoot.isDefined)
          s"covered_pairs=$componentCoveredPairs" else ""))
    spark.createDataFrame(rows).toDF(
      "family", "built", "path", "mutated", "covered_up_to", "files", "params")
  }

  /** Candidate overfetch factor for post-filtered search over a persisted
    * graph (the reference's `top_k*3`, vervectordb/__init__.py:386). */
  private val FilterOverfetch = 3

  /** Largest qualifying-id set the filtered clean-index path will collect
    * to the driver for beam-threaded traversal (overridable via
    * `spark.graft.hnsw.maxAcceptIds` — tests exercise the Bloom tier by
    * lowering it); past this, a still-selective filter serves via a Bloom
    * filter of the qualifying ids, and a non-selective one via
    * overfetch + post-filter, which cannot starve at that density. */
  private def MaxAcceptIds: Int =
    spark.conf.getOption("spark.graft.hnsw.maxAcceptIds")
      .map(_.toInt).getOrElse(100000)

  /** Match fraction at or below which a too-big-for-the-driver filter
    * still counts as selective (Bloom tier); above it overfetch wins. */
  private val BloomSelectivity = 0.1

  /** S2 `hnsw_search`: over the persisted graphs when [[buildHnswIndex]]
    * was called (and no write invalidated it), else a fresh per-partition
    * build. With a persisted index, its build-time partitioning and graph
    * parameters govern the answer and this method's `numPartitions`
    * argument is ignored (identical to a fresh build only when the
    * arguments match the build-time values — RecallSpec covers the
    * matching case).
    *
    * The persisted graphs are restored ONCE per layout, by the first
    * serve, and stay resident in Spark's block cache
    * ([[graft.index.HnswStore.ResidentGraphs]]); every later query prunes
    * the cached graphs to the shards the layout's
    * [[graft.index.HnswStore.defaultRule]] probes (half the shards of a
    * routed layout, every shard of a hash-sharded one; the same before and
    * after [[save]]/[[VectorDb.load]]) and searches them in one job,
    * with no file scan and no restore. A block that Spark evicts under
    * memory pressure is restored again from the layout by the query that
    * next needs it. The resident graphs are dropped when the index is
    * rebuilt ([[buildHnswIndex]], [[maintainIndexes]]); layout files
    * changed underneath a live instance do not change its answers until
    * then (or until [[VectorDb.load]] makes a new instance).
    *
    * `filter` (reference `filter_func`, `:379-409`): a fresh build filters
    * FIRST (graphs over exactly the qualifying rows — exact filter
    * semantics); a persisted CLEAN graph threads the predicate INTO the
    * beam search (the `accept` test of [[graft.index.HnswStore.search]],
    * served from the resident graphs — one pushed-down id scan resolves
    * the qualifying set, the beam expands until it holds k MATCHING
    * rows), a documented improvement over the reference's
    * overfetch-topK×3-then-post-filter (`:386`), which starves under a
    * selective filter. Only the written-to incremental path retains the
    * overfetch shape (its candidates re-score against live rows anyway).
    *
    * After writes the index serves INCREMENTALLY (see
    * [[refreshIndexesOnWrite]]): graph candidates are re-scored against
    * live rows and merged with an exact search over the delta region —
    * inserted rows are found, deleted rows never return, updated vectors
    * score with their live values (a heavily-updated vector the graph
    * routes poorly toward is the documented recall cost; rebuild to
    * recover it). */
  def hnswSearch(query: Seq[Double], topK: Int = 5, efSearch: Int = 128,
      numPartitions: Int = 8, filter: Option[Column] = None): DataFrame = {
    checkDim(query)
    // strict mode reproduces the reference's search-before-build error
    // (ValueError, `:381`); the default keeps this engine's documented
    // improvement — a fresh filter-first per-partition build
    if (strict && hnswPath.isEmpty)
      throw new IllegalStateException("HNSW index not built")
    hnswPath match {
      case Some(p) if !hnswMutated && hnswCoveredUpTo == nextId =>
        // clean index covering every row: serve straight from the
        // resident graphs
        val graphs = residentGraphs(p)
        filter match {
          case None =>
            // routed layout: score the routing sidecar driver-side, probe
            // the top half of the shards — the other shards' cached
            // partitions are pruned, their graphs never touched
            graphs.search(query, topK, hnswRule, efSearch = efSearch)
          case Some(f) =>
            // three-tier dispatch by filter selectivity. The common
            // selective case pays ONE pushed-down id scan (the limit-probe
            // doubles as the accept set, as before the tiers existed);
            // only the overflow cases pay a counting aggregate to split
            // Bloom vs overfetch:
            //  - ≤ maxAcceptIds matches → EXACT id set threaded into the
            //    beam (the starvation-proof path; the set is small exactly
            //    when it is needed);
            //  - selective but too many ids for the driver → a BLOOM
            //    filter of the qualifying ids (one distributed pass,
            //    megabytes at any corpus size) threads into the beam; its
            //    rare false positives are removed by an exact re-check of
            //    the 2·topK fetched candidates;
            //  - non-selective → overfetch-then-filter with the fetch
            //    scaled by the measured match density (a FIXED 3k fetch
            //    starves just above the Bloom cutoff: at 11% density it
            //    yields ~0.33·topK matches), bounded by density > 10% to
            //    ≤ 30·topK candidates.
            def rerank(cand: DataFrame): DataFrame = {
              // pruned fetch (graft.search.IdFetch): the candidate set is
              // bounded (≤ 30·topK), so its ids push into the live-table
              // scan and the graph-side sims re-attach from the rebuilt
              // local frame
              val rows = cand.collect()
              val candDf = graft.search.IdFetch.localFrame(data, rows, cand.schema)
              graft.search.IdFetch.fetchByIds(data, "id", rows.map(_.get(0)).toSeq)
                .join(broadcast(candDf), "id")
                .where(f)
                .orderBy(col("sim").desc, col("id").asc)
                .limit(topK)
                .select("id", "sim")
            }
            val probe = data.where(f).select("id")
              .limit(MaxAcceptIds + 1).collect()
            if (probe.isEmpty) {
              import spark.implicits._
              Seq.empty[(Long, Double)].toDF("id", "sim")
            } else if (probe.length <= MaxAcceptIds) {
              val accept = probe.map(_.getLong(0)).toSet
              graphs.search(query, topK, hnswRule, accept.contains, efSearch)
            } else {
              val counts = data.agg(
                org.apache.spark.sql.functions.count(lit(1)),
                org.apache.spark.sql.functions.count(when(f, 1))).head
              val n = math.max(1L, counts.getLong(0))
              val c = math.max(1L, counts.getLong(1))
              if (c.toDouble / n <= BloomSelectivity) {
                val bloom = data.where(f).stat.bloomFilter("id", c, 0.01)
                rerank(graphs.search(query, 2 * topK, hnswRule,
                  bloom.mightContain(_: Long), efSearch))
              } else {
                val fetchK = (topK.toLong * FilterOverfetch * n / c).toInt
                rerank(graphs.search(query, fetchK, hnswRule, efSearch = efSearch))
              }
            }
        }
      case Some(p) =>
        hnswMergeSearch(p, query, topK, efSearch, filter)
      case None =>
        Hnsw.hnswTopK(data, query, topK, m = hnswM,
          efConstruction = hnswEfConstruction, efSearch = efSearch,
          numPartitions = numPartitions, filter = filter)
    }
  }

  /** Incremental serving over a written-to index: graph candidates
    * (overfetched topK×3) inner-join LIVE data — deleted ids drop, and
    * similarity is recomputed from live vectors so updates score
    * correctly — then merge with an exact brute-force pass over the
    * delta region (ids the graph has never seen). Both branches are
    * k-bounded; the join is a broadcast of ≤ 3k candidate ids. */
  private def hnswMergeSearch(path: String, query: Seq[Double], topK: Int,
      efSearch: Int, filter: Option[Column]): DataFrame = {
    val fetchK = topK * FilterOverfetch
    // the graph files are unchanged since the build, so the candidate leg
    // reads the resident graphs too (all shards: the merge path never
    // routed)
    val cand = residentGraphs(path).search(query, fetchK, efSearch = efSearch)
    def score(df: DataFrame): DataFrame = {
      val base = filter.foldLeft(df)((d, f) => d.where(f))
      base.withColumn("sim",
        round(graft.functions.VectorFunctions.cosineQuery(col("vector"), query), 6))
        .select("id", "sim")
    }
    // graph-covered candidates re-scored against live rows ∪ exact delta;
    // the regions are disjoint (graph holds only ids < hnswCoveredUpTo).
    // Candidate fetch is the pruned IN-list (bounded by fetchK)
    val candIds = cand.select("id").collect().map(_.getLong(0)).toSeq
    score(graft.search.IdFetch.fetchByIds(data, "id", candIds))
      .union(score(data.where(col("id") >= hnswCoveredUpTo)))
      .orderBy(col("sim").desc, col("id").asc)
      .limit(topK)
  }

  /** S5 `filtered_search`: keyword OR-substring over a metadata key, AND an
    * optional metadata predicate (vervectordb/__init__.py:538-554). */
  def filteredSearch(query: Seq[Double], topK: Int = 5,
      keywords: Seq[String] = Nil, textKey: String = "text",
      metadataFilter: Option[Column] = None, method: String = "brute_force"): DataFrame = {
    val kwPred = if (keywords.isEmpty) None
    else Some(VectorSearch.keywordPredicate(element_at(col("metadata"), textKey), keywords))
    val pred = (kwPred, metadataFilter) match {
      case (Some(a), Some(b)) => Some(a && b)
      case (a, b) => a.orElse(b)
    }
    method match {
      case "ivf" => ivfSearch(query, topK, pred)
      case "hnsw" => hnswSearch(query, topK, filter = pred)
      case "ivfpq" => ivfPqSearch(query, topK, filter = pred)
      case "lsh" => lshSearch(query, topK, filter = pred)
      case "brute_force" => bruteForceSearch(query, topK, pred)
      case other => throw new IllegalArgumentException(
        s"unknown search method '$other' (expected brute_force|hnsw|ivf|ivfpq|lsh)")
    }
  }

  /** S4 `batch_search` with method dispatch (reference `:517-536`, which
    * loops queries serially per method): every method here runs ONE
    * distributed job for the whole query set and returns the same
    * (query_id, id, sim, rn) shape — brute = broadcast join + k-bounded
    * aggregator; hnsw = per-partition graphs built once for the batch;
    * ivf = probe-cluster equi-join ([[Ivf.batchSearch]]).
    *
    * `filter` (reference `filter_func`, shared by every query in the
    * batch): applied FILTER-FIRST — brute/hnsw operate on the qualifying
    * rows only (the graphs are built over them), ivf filters the assigned
    * table before the probe join — so every method returns exactly the
    * qualifying top-k, unlike the reference's lossy overfetch-then-filter
    * (SURVEY.md §2 overfetch note). */
  def batchSearch(queries: Seq[Seq[Double]], topK: Int = 5,
      method: String = "brute_force", efSearch: Int = 128,
      filter: Option[Column] = None): DataFrame = {
    queries.foreach(checkDim)
    lazy val indexed = queries.zipWithIndex.map { case (q, i) => (i.toLong, q) }
    val live = filter.foldLeft(data)((d, f) => d.where(f))
    method match {
      case "hnsw" =>
        if (strict && hnswPath.isEmpty) // reference :381 via batch dispatch
          throw new IllegalStateException("HNSW index not built")
        hnswPath match {
          case Some(p) if filter.isEmpty && !hnswMutated && hnswCoveredUpTo == nextId =>
            // clean persisted index covering every row, no filter: serve
            // the whole batch from the stored graphs — restore amortized
            // across the query set, no per-call graph rebuild (the same
            // build-once dispatch hnswSearch uses); routed layouts prune
            // the scan to the union of the batch's probed shards
            graft.index.HnswStore.batchSearch(spark, p, indexed, topK, hnswRule,
              efSearch)
          case _ =>
            // filter-first (graphs over qualifying rows only) or
            // post-write: fresh per-partition build over the live rows
            Hnsw.hnswBatchTopK(live, indexed, topK, m = hnswM,
              efConstruction = hnswEfConstruction, efSearch = efSearch)
        }
      case "ivf" =>
        val (assigned, model) = ivf.getOrElse(
          throw new IllegalStateException("IVF index not built"))
        Ivf.batchSearch(filter.foldLeft(assigned)((d, f) => d.where(f)),
          model, indexed, topK, Ivf.defaultRule(model))
      case "ivfpq" =>
        // filter applies at the exact refine stage (the same
        // overfetch-then-filter semantics as single-query ivfPqSearch)
        val (encoded, model) = ivfPq.getOrElse(
          throw new IllegalStateException("IVF-PQ index not built"))
        IvfPq.batchSearch(encoded, model, indexed, topK, Ivf.defaultRule(model.ivf),
          refineFrom = data, filter = filter)
      case "lsh" =>
        val root = lshRoot.getOrElse(
          throw new IllegalStateException("LSH index not built"))
        if (filter.isEmpty && !lshMutated && lshCoveredUpTo == nextId || queries.isEmpty)
          // clean layout covering every row (or an empty query set, which
          // the engine path answers with the canonical empty batch frame
          // instead of the merge fold crashing on an empty reduce): the
          // whole batch in one union-pruned scan of the stored lists
          graft.index.LshAnn.batchSearchStored(lshLayoutFrame(root),
            lshModel.get, indexed, topK,
            graft.index.LshAnn.Directed(graft.index.LshAnn.DefaultProbes))
        else {
          // post-write/filtered: per-query merge path (correctness over
          // batching, like the fresh-HNSW fallback); maintenance folds
          // the delta back into the batched clean path
          indexed.map { case (qid, q) =>
            lshSearch(q, topK, filter = filter)
              .select(lit(qid).as("query_id"), col("id"), col("sim"),
                row_number().over(org.apache.spark.sql.expressions.Window
                  .partitionBy(lit(1)).orderBy(col("sim").desc, col("id").asc))
                  .cast("long").as("rn"))
          }.reduceLeft(_ unionByName _)
        }
      case "brute_force" =>
        val qdf = spark.createDataFrame(
          spark.sparkContext.parallelize(queries.zipWithIndex.map { case (q, i) => Row(i.toLong, q) }),
          StructType(Seq(
            StructField("query_id", LongType, nullable = false),
            StructField("qvec", ArrayType(DoubleType, containsNull = false), nullable = false))))
        VectorSearch.batchTopK(live, qdf, dim, topK)
      case other => throw new IllegalArgumentException(
        s"unknown search method '$other' (expected brute_force|hnsw|ivf|ivfpq|lsh)")
    }
  }

  /** Extension — [[batchSearch]] for QUERY SETS TOO LARGE TO COLLECT:
    * `queries` is a DataFrame (query_id LONG, qvec ARRAY<DOUBLE>). The
    * index-backed methods serve it end-to-end without driver or broadcast
    * materialization (probe assignment in codegen expressions, shuffled
    * joins / cogroup — the `bigBatch*` engine paths, 10k-query parity
    * spec-gated against the collected dispatch); `brute_force` is the
    * exact all-pairs scorer, which keeps the broadcast cross-join shape —
    * its cost is |queries|·|corpus| similarity math, so the broadcast is
    * never its bottleneck.
    *
    * Big-batch is a BULK serving path, so unlike [[batchSearch]] it does
    * not fall back to per-query merge serving: `hnsw` and `lsh` require a
    * CLEAN persisted layout covering every row (run [[maintainIndexes]]
    * after writes), and `hnsw` requires the routed layout (shard routing
    * is what gives each graph only its own queries). `ivf` re-assigns
    * live rows on write like the collected path, so it is always
    * servable. */
  /** [[batchSearchDf]] probe budgets: `adaptive = true` (default) serves
    * every index-backed family at its ADAPTIVE operating point — the
    * per-row candidate-mass/margin walks the engine paths are
    * BigBatchSpec-parity-gated on — so the probed volume tracks each
    * query's need instead of a fixed constant:
    *
    *  - ivf / ivfpq: [[graft.index.Ivf.Adaptive]] per row (stop at
    *    overscan·topK candidate rows);
    *  - hnsw (routed): [[graft.index.HnswStore.Adaptive]] per row, the
    *    margin walk over the routing sidecar + per-shard stats;
    *  - lsh: [[graft.index.LshAnn.Adaptive]], the margin-ranked flip walk
    *    stopping at [[graft.index.LshAnn.DefaultOverscan]]·topK candidate
    *    mass ([[graft.index.LshAnn.bigBatchSearchStored]]).
    *
    * `adaptive = false` pins the fixed budgets (ivf max(k/2,8) probes,
    * hnsw the layout's [[graft.index.HnswStore.defaultRule]], lsh
    * `Directed(DefaultProbes)`), so each family answers as the collected
    * [[batchSearch]] does. The per-layout statistics the walks need
    * (cluster/bucket sizes, shard stats) are computed once and memoized
    * until the next write/rebuild. */
  def batchSearchDf(queries: DataFrame, topK: Int = 5,
      method: String = "brute_force", efSearch: Int = 128,
      adaptive: Boolean = true, overscan: Int = -1,
      filter: Option[Column] = None): DataFrame = {
    // overscan = -1 → each family's calibrated default (ivf/ivfpq/hnsw 16,
    // lsh [[graft.index.LshAnn.DefaultOverscan]]); an explicit value
    // reaches EVERY family — it is the starvation knob the `filter`
    // contract below tells callers to widen, so dropping it for any one
    // family would silently under-serve exactly the documented remedy
    require(overscan == -1 || overscan > 0,
      s"overscan must be positive (or -1 for the family default), got $overscan")
    val scan = if (overscan == -1) 16 else overscan
    val lshScan = if (overscan == -1) graft.index.LshAnn.DefaultOverscan
      else overscan
    // front-door dimension guard (the collected batchSearch calls
    // checkDim per query): a wrong-dim qvec row fails loudly here instead
    // of surfacing as a deep executor-side kernel error
    val q0 = queries.select(
      col("query_id").cast("long").as("query_id"),
      when(size(col("qvec")) === dim, col("qvec").cast("array<double>"))
        .otherwise(raise_error(concat(
          lit(s"vector dimension mismatch: expected $dim, got "),
          size(col("qvec")).cast("string")))).as("qvec"))
    // `filter` is S5 at query-set scale — a predicate over this db's rows
    // (id / vector / metadata), served with each family's exact-filter
    // contract: brute/ivf filter-FIRST on the candidate scan (exact,
    // no starvation beyond probed∩accepted); ivfpq filters at the refine
    // stage (the family's overfetch contract — a selective predicate can
    // return fewer than topK); hnsw threads a Bloom of the accepted ids
    // into each graph's beam + exact re-check; lsh semi-joins the
    // accepted ids into the payload fetch (bucket admission is
    // filter-independent — selective predicates can starve; widen
    // overscan). The id frames below are BOUNDED by the predicate's
    // selectivity, never by the query count.
    def acceptFrame: Option[DataFrame] = filter.map(f => data.where(f).select("id"))
    method match {
      case "brute_force" =>
        VectorSearch.batchTopK(filter.foldLeft(data)((d, f) => d.where(f)),
          q0, dim, topK)
      case "ivf" =>
        val (assigned, model) = ivf.getOrElse(
          throw new IllegalStateException("IVF index not built"))
        Ivf.bigBatchSearch(assigned, model, q0, topK,
          ivfRule(assigned, model, adaptive, scan), filter = filter)
      case "ivfpq" =>
        val (encoded, model) = ivfPq.getOrElse(
          throw new IllegalStateException("IVF-PQ index not built"))
        IvfPq.bigBatchSearch(encoded, model, q0, topK,
          ivfRule(encoded, model.ivf, adaptive, scan), refineFrom = data,
          filter = filter)
      case "hnsw" =>
        val p = hnswPath.getOrElse(
          throw new IllegalStateException("HNSW index not built"))
        if (!hnswRouted || hnswMutated || hnswCoveredUpTo != nextId)
          throw new IllegalStateException(
            "big-batch HNSW serves from a CLEAN routed layout: build with " +
              "routed=true and run maintainIndexes() after writes")
        val rule =
          if (adaptive) graft.index.HnswStore.Adaptive(hnswStatsOf(p), scan)
          else hnswRule
        graft.index.HnswStore.bigBatchSearch(spark, p, q0, topK, rule,
          efSearch, acceptIds = acceptFrame)
      case "lsh" =>
        val root = lshRoot.getOrElse(
          throw new IllegalStateException("LSH index not built"))
        if (lshMutated || lshCoveredUpTo != nextId)
          throw new IllegalStateException(
            "big-batch LSH serves from a CLEAN layout: run " +
              "maintainIndexes() after writes")
        val rule =
          if (adaptive) graft.index.LshAnn.Adaptive(lshSizesOf(root), lshScan)
          else graft.index.LshAnn.Directed(graft.index.LshAnn.DefaultProbes)
        graft.index.LshAnn.bigBatchSearchStored(lshLayoutFrame(root),
          lshModel.get, q0, topK, rule, acceptIds = acceptFrame)
      case other => throw new IllegalArgumentException(
        s"unknown big-batch method '$other' (expected brute_force|hnsw|ivf|ivfpq|lsh)")
    }
  }

  // ---- memoized per-layout statistics for the adaptive big-batch walks.
  // The in-session ivf/ivfpq frames are REPLACED on every write (the
  // incremental maintenance reassigns the var), so reference identity is
  // the exact invalidation key: Dataset keeps Object identity equality,
  // and a weak key lets a replaced frame's entry go with it. The hnsw/lsh
  // stored layouts key on the path + covered watermark the serving guard
  // already requires.
  private val clusterSizesMemo = new java.util.WeakHashMap[DataFrame, Map[Int, Long]]()

  /** The ivf/ivfpq probe rule of a big-batch serve over `layout`: the
    * candidate-mass walk over its memoized cluster sizes, or the
    * reference's fixed count. */
  private def ivfRule(layout: DataFrame, model: Ivf.IvfModel, adaptive: Boolean,
      overscan: Int): Ivf.ProbeRule =
    if (adaptive)
      Ivf.Adaptive(clusterSizesMemo.computeIfAbsent(layout, Ivf.clusterSizes(_)), overscan)
    else Ivf.defaultRule(model)
  private var hnswStatsMemo: Option[((String, Long), graft.index.HnswStore.RoutedStats)] = None
  private def hnswStatsOf(path: String): graft.index.HnswStore.RoutedStats = {
    val key = (path, hnswCoveredUpTo)
    hnswStatsMemo match {
      case Some((k, st)) if k == key => st
      case _ =>
        val st = graft.index.HnswStore.routedStats(spark, path)
        hnswStatsMemo = Some((key, st)); st
    }
  }
  private var lshSizesMemo: Option[(String, Array[Array[Long]])] = None
  private def lshSizesOf(root: String): Array[Array[Long]] = {
    val cur = graft.index.LshAnn.currentLayout(spark, root)
    lshSizesMemo match {
      case Some((dir, sz)) if dir == cur => sz
      case _ =>
        val sz = graft.index.LshAnn.bucketSizes(lshLayoutFrame(root))
        lshSizesMemo = Some((cur, sz)); sz
    }
  }

  /** Extension (graft.index.IvfPq): build the composed IVF-PQ index —
    * cluster assignment + residual PQ codes, the scan-m-bytes-from-probed-
    * partitions scale path. Maintained incrementally on writes like IVF
    * (the encoded view is a pure function of live rows and the model). */
  def buildIvfPqIndex(k: Int = 16, m: Int = pqM, nBits: Int = pqNBits,
      seed: Long = 42L): Unit = {
    requireNonEmpty("build_ivfpq_index")
    ivfPq = Some(IvfPq.build(data, dim, k = k, m = m, nBits = nBits, seed = seed))
  }

  /** Extension: ADC search over the IVF-PQ codes with exact re-rank
    * against live vectors; requires [[buildIvfPqIndex]]. `filter` applies
    * at the refine stage (overfetch-then-filter — can return fewer than
    * topK under a selective predicate, like the reference's own
    * post-filtered approximate searches). */
  def ivfPqSearch(query: Seq[Double], topK: Int = 5,
      filter: Option[Column] = None): DataFrame = {
    checkDim(query)
    val (encoded, model) = ivfPq.getOrElse(
      throw new IllegalStateException("IVF-PQ index not built"))
    IvfPq.search(encoded, model, query, topK, Ivf.defaultRule(model.ivf),
      refineFrom = Some(data), filter = filter)
  }

  /** Extension (graft.text.Bm25): BM25 keyword-relevance ranking over a
    * metadata text key — proper lexical retrieval next to the reference's
    * substring keyword filter ([[filteredSearch]]). */
  def keywordRank(terms: Seq[String], topK: Int = 5,
      textKey: String = "text"): DataFrame =
    graft.text.Bm25.topK(
      data.select(col("id"), element_at(col("metadata"), textKey).as("text"))
        .where(col("text").isNotNull),
      terms, topK, idCol = "id", textCol = "text")

  /** W7 `train_pq` (subquantizer count/bits default to the constructor's,
    * reference `:238-239`; empty-db guard per `:491`). */
  def trainPq(m: Int = pqM, nBits: Int = pqNBits): Unit = {
    requireNonEmpty("train_pq")
    pq = Some(ProductQuantizer.train(data, "vector", "id", dim, m, nBits))
  }

  /** W8 `compress`: adds `pq_code` (BINARY, m bytes). */
  def compress(): DataFrame = {
    val q = pq.getOrElse(throw new IllegalStateException("PQ not trained"))
    ProductQuantizer.encodeDf(data, q, "vector")
  }

  /** W9 `decompress`. */
  def decompress(encoded: DataFrame): DataFrame = {
    val q = pq.getOrElse(throw new IllegalStateException("PQ not trained"))
    ProductQuantizer.decodeDf(encoded, q)
  }

  /** The cached tables the facade serves after [[save]]: the re-reads of
    * `$path/data` and of the IVF / IVF-PQ layouts. A later write serves
    * from a plan over the cached data; the next save unpersists all three,
    * so repeated mutate/save cycles hold at most one cached copy each of
    * data and IVF assignments. */
  private var dataSnap: Option[DataFrame] = None
  private var ivfSnap: Option[DataFrame] = None
  private var ivfPqSnap: Option[DataFrame] = None

  /** Whether `df`'s plan reads files under `path`, or under a directory
    * that contains it: a write to `path` would then overwrite files the
    * write itself reads. */
  private def readsUnder(df: DataFrame, path: String): Boolean = {
    def qualified(p: String) = {
      val (fs, hp) = graft.store.Fs.pathFs(spark, p)
      fs.makeQualified(hp)
    }
    def within(p: org.apache.hadoop.fs.Path, dir: org.apache.hadoop.fs.Path) =
      Iterator.iterate(p)(_.getParent).takeWhile(_ != null).contains(dir)
    val target = qualified(path)
    // the analyzed plan: a cached input still shows the files it was read from
    df.queryExecution.analyzed.exists {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => r.location.rootPaths.exists { root =>
          val q = qualified(root.toString)
          within(q, target) || within(target, q)
        }
        case _ => false
      }
      case _ => false
    }
  }

  /** W10 `save`: data Parquet + small model sidecars (centroids, codebooks
    * as tiny Parquet tables; next-id as a 1-row table).
    *
    * Data, IVF assignments and IVF-PQ codes whose plans read files under
    * `path` are snapshotted through the block-manager cache first, so
    * saving a loaded instance back onto its own directory does not
    * read-while-overwriting. A table read from anywhere else (a fresh
    * facade's inserted rows) is written straight from its plan.
    *
    * Once written, the facade serves from the saved files, the tables a
    * [[VectorDb.load]] of `path` would give it, cached and materialized:
    * `$path/data`, `$path/ivf_data` and `$path/ivfpq_data`. Scans then no
    * longer carry the rows each [[batchInsert]] shipped from the driver.
    * The directory must outlive the facade, as it must for `load`: evicted
    * blocks are recomputed from these files, and a later write to the
    * same directory (by this facade or another) is what it then serves.
    *
    * Sidecars whose in-memory state is ABSENT are deleted from the target:
    * after load → mutate (which invalidates indexes) → save onto the same
    * directory, a surviving `$path/hnsw`/`ivf_*`/`pq_codebooks` would be
    * resurrected by the next load and silently serve deleted or stale
    * rows — the exact W3/W4 staleness bug this class exists to fix. */
  def save(path: String): Unit = {
    homePath = Some(path)
    val snaps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def guarded(df: DataFrame): DataFrame =
      if (!readsUnder(df, path)) df
      else {
        val snap = df.cache()
        snap.count()
        snaps += snap
        snap
      }
    data = guarded(data)
    VectorStore.save(data, s"$path/data")
    // constructor hyperparameters persist with the instance — the
    // reference pickles the whole object so its load restores them
    // (vervectordb/__init__.py:575-594); without these a db built with
    // non-default parameters would silently rebuild/merge with defaults
    // after load
    spark.createDataFrame(Seq(
        (nextId, hnswCoveredUpTo, hnswMutated, hnswM, hnswEfConstruction, pqM, pqNBits,
          lshCoveredUpTo, lshMutated)))
      .toDF("next_id", "hnsw_covered_up_to", "hnsw_mutated",
        "hnsw_m", "hnsw_ef_construction", "pq_m", "pq_nbits",
        "lsh_covered_up_to", "lsh_mutated")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
    ivf match {
      case Some((assigned, model)) =>
        val table = guarded(assigned)
        ivf = Some((table, model))
        Ivf.saveClustered(table, s"$path/ivf_data")
        spark.createDataFrame(model.centroids.toSeq.zipWithIndex.map {
          case (c, i) => (i, c.toSeq)
        }).toDF("cluster_id", "centroid")
          .write.mode(SaveMode.Overwrite).parquet(s"$path/ivf_centroids")
      case None =>
        deletePath(s"$path/ivf_data")
        deletePath(s"$path/ivf_centroids")
    }
    pq match {
      case Some(q) =>
        val rows = for {
          s <- 0 until q.m
          c <- 0 until q.k
        } yield (s, c, q.codebooks(s)(c).toSeq)
        spark.createDataFrame(rows).toDF("subspace", "centroid_id", "centroid")
          .write.mode(SaveMode.Overwrite).parquet(s"$path/pq_codebooks")
      case None =>
        deletePath(s"$path/pq_codebooks")
    }
    ivfPq match {
      case Some((encoded, model)) =>
        val table = guarded(encoded)
        ivfPq = Some((table, model))
        Ivf.saveClustered(table, s"$path/ivfpq_data")
        spark.createDataFrame(model.ivf.centroids.toSeq.zipWithIndex.map {
          case (c, i) => (i, c.toSeq)
        }).toDF("cluster_id", "centroid")
          .write.mode(SaveMode.Overwrite).parquet(s"$path/ivfpq_centroids")
        val cbRows = for {
          s <- 0 until model.pq.m
          c <- 0 until model.pq.k
        } yield (s, c, model.pq.codebooks(s)(c).toSeq)
        spark.createDataFrame(cbRows).toDF("subspace", "centroid_id", "centroid")
          .write.mode(SaveMode.Overwrite).parquet(s"$path/ivfpq_codebooks")
      case None =>
        deletePath(s"$path/ivfpq_data")
        deletePath(s"$path/ivfpq_centroids")
        deletePath(s"$path/ivfpq_codebooks")
    }
    hnswPath match {
      case Some(p) if p != s"$path/hnsw" =>
        // cluster by the partition column first (one file per graph shard,
        // not tasks × shards — same fix as Ivf.saveClustered); the
        // DataFrame rewrite drops the hyperparameter sidecar, so copy it
        // explicitly — without it a loaded db would serve/merge with
        // defaults instead of the build-time m/efConstruction
        spark.read.parquet(p).repartition(col("part"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("part").parquet(s"$path/hnsw")
        graft.index.HnswStore.copyMeta(spark, p, s"$path/hnsw")
        graft.index.HnswStore.copyRouting(spark, p, s"$path/hnsw")
      case Some(_) => // already persisted in place
      case None =>
        deletePath(s"$path/hnsw")
    }
    lshRoot match {
      case Some(r) if r != s"$path/lsh" =>
        // relocate the LIVE layout version under the save dir as its own
        // versioned root; the DataFrame rewrite drops the model sidecar,
        // so copy it explicitly (same pattern as the HNSW meta copy)
        val cur = graft.index.LshAnn.currentLayout(spark, r)
        graft.store.VersionedLayout.publish(spark, s"$path/lsh") { dir =>
          graft.index.LshAnn.rewriteLayoutTo(spark, cur, dir)
        }
      case Some(_) => // already versioned in place
      case None =>
        deletePath(s"$path/lsh")
    }
    // serve from the files just written. Every pre-write snapshot goes
    // BEFORE the re-reads are cached: after a save onto the same directory
    // a re-read is the same cached plan as the snapshot, so unpersisting
    // the snapshot afterwards would drop the new cache
    (snaps ++ dataSnap ++ ivfSnap ++ ivfPqSnap).foreach(_.unpersist())
    def cachedRead(dir: String): DataFrame = {
      val df = spark.read.parquet(dir).cache()
      df.count()
      df
    }
    data = cachedRead(s"$path/data")
    ivf = ivf.map { case (_, model) => (cachedRead(s"$path/ivf_data"), model) }
    ivfPq = ivfPq.map { case (_, model) => (cachedRead(s"$path/ivfpq_data"), model) }
    dataSnap = Some(data)
    ivfSnap = ivf.map(_._1)
    ivfPqSnap = ivfPq.map(_._1)
  }
}

object VectorDb {

  /** Sidecar existence/deletion resolves through [[graft.store.Fs]]
    * (Hadoop API — `java.io.File` silently no-ops on HDFS/S3, which would
    * resurrect stale index sidecars on the next load, the staleness bug
    * [[VectorDb.save]]'s deletion exists to prevent). */
  private def pathExists(spark: SparkSession, path: String): Boolean =
    graft.store.Fs.exists(spark, path)

  /** Rebuild a quantizer from its persisted codebook rows
    * (subspace, centroid_id, centroid): every hyperparameter is inferred
    * STRUCTURALLY — m from the subspace count, k (and so nBits) from the
    * per-subspace centroid count — so a quantizer trained with any
    * (m, nBits), constructor-default or not, round-trips exactly. (With
    * the old fixed `nBits=8`, a pqNBits≠8 db would load with `pq.k=256`
    * over 2^nBits codebook entries and throw AIOOBE on the first
    * encode/LUT build.) */
  private def quantizerFromRows(rows: Array[Row], dim: Int): ProductQuantizer = {
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    require(Integer.bitCount(k) == 1, s"codebook size $k is not a power of two")
    val q = new ProductQuantizer(dim, m, nBits = Integer.numberOfTrailingZeros(k))
    q.codebooks = Array.tabulate(m) { s =>
      rows.filter(_.getInt(0) == s).sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
    }
    q
  }

  /** W11 `load` (classmethod in the reference, `:575-594`). Restores the
    * constructor hyperparameters from the meta sidecar, so post-load
    * writes/rebuilds use the build-time parameters — the reference gets
    * this for free by pickling the whole object. */
  def load(spark: SparkSession, path: String, dim: Int,
      strict: Boolean = false): VectorDb = {
    val meta = spark.read.parquet(s"$path/meta").collect()(0)
    // saves from before the hyperparameter sidecar carry only the first
    // three meta columns — fall back to constructor defaults for those
    // (the quantizers still restore exactly: their params are inferred
    // structurally from the codebook tables). `strict` is an API-behavior
    // flag, not index state, so the caller chooses it per instance.
    val hasHp = meta.length >= 7
    val db = new VectorDb(spark, dim,
      hnswM = if (hasHp) meta.getInt(3) else 16,
      hnswEfConstruction = if (hasHp) meta.getInt(4) else 64,
      pqM = if (hasHp) meta.getInt(5) else 8,
      pqNBits = if (hasHp) meta.getInt(6) else 8,
      strict = strict)
    db.homePath = Some(path)
    db.data = VectorStore.load(spark, s"$path/data")
    db.nextId = meta.getLong(0)
    db.hnswCoveredUpTo = meta.getLong(1)
    db.hnswMutated = meta.getBoolean(2)
    if (pathExists(spark, s"$path/ivf_centroids")) {
      val centroids = spark.read.parquet(s"$path/ivf_centroids")
        .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
      val assigned = spark.read.parquet(s"$path/ivf_data")
      db.ivf = Some((assigned, Ivf.IvfModel(centroids)))
    }
    if (pathExists(spark, s"$path/hnsw")) {
      db.hnswPath = Some(s"$path/hnsw")
      db.hnswOwned = false
      // maintenance rebuilds must reuse the loaded graph's shard policy
      // (its _graft_meta sidecar), not the constructor default — a rebuild
      // with different partitioning would answer differently than the
      // index it replaces. A derived layout (targetRows recorded) re-derives
      // from the grown corpus, as it did before the save; a pinned one keeps
      // its build-time count
      graft.index.HnswStore.readMeta(spark, s"$path/hnsw").foreach { case (_, _, np) =>
        db.hnswNumPartitions =
          if (graft.index.HnswStore.readTargetRows(spark, s"$path/hnsw").isDefined)
            graft.index.HnswStore.DeriveShards
          else np
      }
      // routedness is a property of the layout, detected from its sidecar
      db.hnswRouted =
        graft.index.HnswStore.readRouting(spark, s"$path/hnsw").isDefined
      db.hnswRule = graft.index.HnswStore.defaultRule(spark, s"$path/hnsw")
    }
    if (pathExists(spark, s"$path/lsh")) {
      val root = s"$path/lsh"
      val cur = graft.index.LshAnn.currentLayout(spark, root)
      val model = graft.index.LshAnn.loadTables(spark, cur)
      db.lshRoot = Some(root)
      db.lshModel = Some(model)
      db.lshNumTables = model.numTables
      db.lshNumBits = model.numBits
      db.lshOwned = false
      // saves from before the LSH lifecycle carry 7 meta columns; a layout
      // dir without the watermark columns cannot exist, but fall back
      // conservatively to covered-at-save semantics
      db.lshCoveredUpTo = if (meta.length >= 9) meta.getLong(7) else db.nextId
      db.lshMutated = if (meta.length >= 9) meta.getBoolean(8) else false
    }
    if (pathExists(spark, s"$path/pq_codebooks")) {
      db.pq = Some(quantizerFromRows(
        spark.read.parquet(s"$path/pq_codebooks").collect(), dim))
    }
    if (pathExists(spark, s"$path/ivfpq_centroids")) {
      val centroids = spark.read.parquet(s"$path/ivfpq_centroids")
        .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
      val q = quantizerFromRows(
        spark.read.parquet(s"$path/ivfpq_codebooks").collect(), dim)
      val encoded = spark.read.parquet(s"$path/ivfpq_data")
      db.ivfPq = Some((encoded, IvfPq.IvfPqModel(Ivf.IvfModel(centroids), q)))
    }
    db
  }
}
