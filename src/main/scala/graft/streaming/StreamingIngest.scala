package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-streaming ingest — the streaming analog of the reference's
  * incremental write path (`insert` with `use_hnsw=True`,
  * vervectordb/__init__.py:264-265): new rows stream in, derived state
  * (aggregates / index partitions) updates incrementally.
  *
  * Two shapes:
  *  - [[hourlyCounts]]: watermarked event-time windowed aggregation over the
  *    events schema (batch twin: AnalyticsQueries.eventsHourlyAgg — same
  *    buckets, verified equal in ScalaTest).
  *  - [[ingestAppend]]: foreachBatch append into a Parquet vector table, the
  *    micro-batch upsert path; index rebuild (IVF/HNSW) runs per batch or
  *    periodically, replacing the reference's per-row incremental insert.
  */
object StreamingIngest {

  /** events schema with ts as nanos LONG — the normalized internal
    * convention (see [[graft.model.VectorModel.events]]). */
  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming read of a directory of events parquet files, with `ts`
    * normalized to nanos LONG. readStream needs an explicit schema, and
    * pinning ts to LONG over a TIMESTAMP(MICROS) file would silently
    * REINTERPRET µs as ns (a 1000× clock skew vs the batch twin) — so the
    * stored type is sniffed from the files' footers (one batch-read schema
    * resolution, no data scan) and the same normalization seam as the
    * batch reader applies on top. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // an EMPTY source dir (stream started before the producer's first
    // file) has no footers to sniff — fall back to the canonical
    // nanos-LONG schema so startup succeeds, as the explicit-schema
    // reader always did. Caveat: if the first files then arrive with a
    // TIMESTAMP-typed ts, restart the stream (or pass the schema) —
    // a pinned LONG read of µs physical values would be the silent
    // 1000x clock skew the sniff exists to prevent.
    val stored =
      try spark.read.parquet(dir).schema
      catch { case _: org.apache.spark.sql.AnalysisException => EventsSchema }
    graft.model.VectorModel.normalizeEventsTs(
      spark.readStream.schema(stored).parquet(dir))
  }

  /** Watermarked hourly windowed aggregation per event type. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100.0).cast("long")).as("sum_value_cents"))
      .select(
        unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n"), col("sum_value_cents"))

  /** Run a streaming aggregation to completion over static input via an
    * in-memory sink (test/dev harness). */
  def runToMemorySink(agg: DataFrame, name: String): StreamingQuery = {
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q
  }

  /** Micro-batch append ingest into a Parquet table (the W1/W2 streaming
    * analog). Returns the query; caller stops it. */
  def ingestAppend(stream: DataFrame, targetPath: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(targetPath)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming exact dedup: watermarked `dropDuplicates` on the id — the
    * streaming twin of Dedup.exactGroups' keep-first semantics. State is
    * bounded by the watermark horizon (ids older than the watermark are
    * forgotten; late duplicates beyond it would pass — the standard
    * tradeoff). */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      .dropDuplicates("event_id", "event_time")

  /** Streaming dedup on the id ALONE via dropDuplicatesWithinWatermark:
    * unlike [[dedupStream]] (whose dedup key includes the event time, so
    * only exact (id, time) duplicates collapse), this deduplicates ids
    * whose duplicates arrive at ANY time within the watermark delay —
    * the semantics usually wanted for at-least-once sources — while state
    * still expires. */
  def dedupStreamWithinWatermark(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked stream-stream inner join — the streaming twin of the
    * batch incident range join
    * ([[graft.queries.AnalyticsQueries.eventsRangeJoinIncidents]]): every
    * error event opens a `windowUs` incident window; same-user events
    * inside it join to the incident. The event-time range condition plus
    * both watermarks bound the join state (rows older than watermark −
    * window are dropped from state), which is what lets this run forever
    * at scale. Output: (error_id, event_id, user_id, value) pairs. */
  def incidentJoinStream(events: DataFrame, windowUs: Long): DataFrame = {
    val pts = events
      .select(col("event_id"), col("user_id"), col("value"),
        timestamp_micros(expr("ts div 1000")).as("event_time"))
      .withWatermark("event_time", "1 hour")
    val errs = events
      .where(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("err_user"),
        timestamp_micros(expr("ts div 1000")).as("error_time"))
      .withWatermark("error_time", "1 hour")
    errs.join(pts,
      col("user_id") === col("err_user") &&
        col("event_time") >= col("error_time") &&
        col("event_time") <= col("error_time") + expr(s"INTERVAL ${windowUs} MICROSECOND"))
      .select(col("error_id"), col("event_id"), col("user_id"), col("value"))
  }

  /** Streaming ingest with per-batch FULL index refresh — each micro-batch
    * appends to the vector table and rewrites the cluster-partitioned IVF
    * layout over the whole table. Simple and always-consistent, but the
    * refit cost grows with the table: at scale use
    * [[ingestWithIvfAssign]] (incremental) and refit only on drift. */
  def ingestWithIvfRefresh(stream: DataFrame, tablePath: String, indexPath: String,
      checkpoint: String, vecCol: String, idCol: String): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(tablePath)
        val all = batch.sparkSession.read.parquet(tablePath)
        val (assigned, _) = graft.index.Ivf.fit(all, vecCol, k = 4, idCol = idCol)
        graft.index.Ivf.saveClustered(assigned, indexPath)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming ingest with INCREMENTAL index maintenance — the scale path,
    * and the true analog of the reference's incremental HNSW insert
    * (vervectordb/__init__.py:264-265): each micro-batch is assigned to
    * the EXISTING centroids (one narrow map — per-batch cost is O(batch),
    * not O(table)) and appended into the cluster-partitioned layout, so
    * the index stays consistent and searchable without ever touching old
    * rows. Centroids only drift meaningfully when the data distribution
    * does; a deployment refits on a drift signal (e.g. mean
    * assignment distance trending up) and rewrites the layout once —
    * [[graft.index.Ivf.fit]]/[[graft.index.Ivf.assign]] are already the
    * split passes that supports. Small per-batch files are the standard
    * streaming-sink tradeoff, compacted offline. */
  def ingestWithIvfAssign(stream: DataFrame, indexPath: String, checkpoint: String,
      vecCol: String, model: graft.index.Ivf.IvfModel): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.index.Ivf.assign(batch, model, vecCol)
          .write.mode("append").partitionBy("cluster_id").parquet(indexPath)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming HNSW delta ingest — the streaming twin of the facade's
    * delta-merge serving ([[graft.api.VectorDb]]'s incremental path; the
    * cited reference behavior is insert-maintains-the-index,
    * vervectordb/__init__.py:264-265). The persisted graph
    * ([[graft.index.HnswStore]]) covers rows up to its build watermark;
    * each micro-batch APPENDS its rows to a delta directory — no graph
    * rebuild, per-batch cost O(batch) — and serving merges graph
    * candidates with an exact pass over the delta
    * ([[hnswDeltaSearch]]). A deployment compacts (rebuilds the graph
    * over base + delta) when the delta fraction makes merge serving
    * slower than a rebuild — the same compaction decision, made on the
    * same signal, as the facade's batch path. */
  def ingestWithHnswDelta(stream: DataFrame, deltaPath: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(deltaPath)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Top-k over graph ∪ streamed delta: the persisted graph's candidates
    * (k-bounded, shuffle-free restore) union an exact brute-force pass
    * over the delta rows, merged k-bounded — inserted rows are found the
    * moment their micro-batch commits, without touching the graph. Before
    * the first micro-batch commits the delta directory does not exist
    * yet; serving then answers from the graph alone rather than failing. */
  def hnswDeltaSearch(spark: SparkSession, graphPath: String, deltaPath: String,
      query: Seq[Double], k: Int, efSearch: Int = 128,
      vecCol: String = "vector", idCol: String = "id"): DataFrame = {
    // the graph leg probes the layout's default shards (the top half of a
    // routed layout's, rest pruned — the facade's rule), reading the routing
    // sidecar once per query; the delta leg is an exact scan either way
    val graphCand = graft.index.HnswStore.searchDefault(spark, graphPath, query, k,
      efSearch, idCol)
    if (!graft.store.Fs.exists(spark, deltaPath)) return graphCand
    val deltaScored = spark.read.parquet(deltaPath)
      .withColumn("sim", round(
        graft.functions.VectorFunctions.cosineQuery(col(vecCol), query), 6))
      .select(col(idCol), col("sim"))
    // dedup by id before ranking: a row can legitimately appear on both
    // sides in the window between a delta compaction's publish and its
    // delta clear ([[graft.index.HnswStore.maintainDelta]] crash
    // contract) — both sides score it identically (same vector, same
    // rounded cosine), so max() keeps the one true similarity and the
    // top-k never seats the same id twice. Aggregation input is k graph
    // candidates + the delta rows (small by the compaction policy).
    graphCand.union(deltaScored)
      .groupBy(col(idCol))
      .agg(max(col("sim")).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** documents schema as stored. */
  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming read of a documents parquet directory. */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(DocumentsSchema).parquet(dir)

  /** Streaming twin of incremental MinHash dedup
    * ([[graft.dedup.Dedup.lshIncrementalPairs]]): per micro-batch of
    * documents, (1) signatures are computed for the BATCH ONLY (only the
    * increment pays the shingle/minhash cost), (2) the batch signatures
    * land in their own `sig/batch=<id>` partition, (3) the batch
    * band-joins the read-back state — corpus-so-far INCLUDING the batch,
    * so old↔new and new↔new pairs are both covered — and the discovered
    * pairs (normalized da < db, distinct) land in `pairs/batch=<id>`.
    *
    * Union-over-batches == the batch self-join pair set
    * ([[graft.dedup.Dedup.lshCandidatePairs]]): every pair has a first
    * batch where both endpoints exist, and that batch discovers it
    * (its later endpoint is in the delta). StreamingSpec asserts set
    * equality. At-least-once SAFETY: both state writes are idempotent
    * per-batch overwrites into `sig/batch=<id>` and `pairs/batch=<id>`
    * (the pack layout's idempotent-overwrite contract) — a foreachBatch
    * replay after a crash between the two writes REWRITES its own
    * partition instead of re-appending, so neither the signature state
    * nor its band-join fan-out grows with replays.
    *
    * STATE LAYOUT v2: earlier builds appended flat files directly under
    * `sig/` and `pairs/`; the partitioned layout is NOT compatible with
    * such a dir (Spark's partition discovery rejects mixed depths with
    * "Conflicting directory structures"). Point new streams at a fresh
    * statePath — the checkpoint and the state travel together. */
  def minhashDedupIngest(docs: DataFrame, statePath: String,
      checkpoint: String, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): StreamingQuery = {
    // upgrade guard: a pre-v2 flat state dir would otherwise surface as
    // Spark's generic "Conflicting directory structures" at first read
    requireNoFlatLegacyState(docs.sparkSession, s"$statePath/sig")
    requireNoFlatLegacyState(docs.sparkSession, s"$statePath/pairs")
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        minhashIngestBatch(batch, statePath, numHashes, bands, threshold,
          batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Upgrade guard for batch-partitioned state dirs: pre-v2 builds wrote
    * flat data files directly under the dir, which the v2 `batch=<id>`
    * layout cannot coexist with (Spark partition discovery fails with the
    * generic "Conflicting directory structures"). Detect the legacy shape
    * at stream start and fail with the actionable message instead. */
  private def requireNoFlatLegacyState(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = graft.store.Fs.pathFs(spark, dir)
    if (fs.exists(p)) {
      val flat = fs.listStatus(p).filter(s => s.isFile &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      require(flat.isEmpty,
        s"legacy flat (v1) state files found directly under $dir (e.g. " +
          s"${flat.head.getPath.getName}): this build keeps batch-partitioned " +
          "(v2) state. Either migrate the flat files into a batch=-1 " +
          s"subdirectory of $dir, or point the stream AND its checkpoint at " +
          "a fresh statePath.")
    }
  }

  private[graft] def minhashIngestBatch(batch: DataFrame, statePath: String,
      numHashes: Int, bands: Int, threshold: Double, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val sigPath = s"$statePath/sig"
    // cache populates on the write action; the band join below re-reads it
    val batchSig = graft.dedup.Dedup.minhashSignatures(
      batch, "doc_id", "text", numHashes).cache()
    writeBatchPartition(batchSig, sigPath, batchId)
    // the read-back state gains a discovered `batch` partition column —
    // dropped so the band join's schema matches the delta side's; the
    // ≤ batchId guard keeps a backfill replay of a NON-final batch from
    // joining future batches' signatures (whose pairs would then land in
    // this batch's dir too and double-count in the union)
    val pairs = graft.dedup.Dedup.lshIncrementalPairs(
        batchSig,
        spark.read.parquet(sigPath)
          .where(col("batch") <= batchId).drop("batch"),
        numHashes, bands, threshold)
      .select(least(col("new_doc"), col("dup_of")).as("da"),
        greatest(col("new_doc"), col("dup_of")).as("db"),
        col("est_jaccard"))
      .distinct()
    writeBatchPartition(pairs, s"$statePath/pairs", batchId)
    batchSig.unpersist()
  }

  /** Streaming URL-frontier dedup — the incremental twin of the batch
    * canonical-key dedup (`dd_url_dedup`,
    * [[graft.queries.DedupQueries.urlDedup]]): a crawl frontier must
    * decide "have I fetched this page?" BEFORE fetching, per discovery
    * wave, not over a static corpus. Each micro-batch of discovered
    * `(doc_id, url)` rows canonicalizes ([[graft.text.Urls.canonical]]),
    * compacts to one keeper per canonical key within the batch (min
    * doc_id), anti-joins the seen state (earlier batches only), and
    * appends ONLY the genuinely-new keys as its `batch=<id>` partition —
    * a URL recurring in a later wave is never re-emitted (never
    * re-fetched), the frontier semantic.
    *
    * Grown-state contract (StreamingSpec): when discovery ids ascend
    * with batches (arrival order), the union of all partitions equals
    * the batch kernel's (curl, keeper) set over the full history; each
    * canonical key lives in EXACTLY ONE partition; a replay of the
    * newest batch rewrites it identically (the state read is `< id`, so
    * a replay sees exactly the pre-batch state).
    *
    * Scale shape: only the delta pays canonicalization + its own
    * compaction shuffle; the seen side is a SCAN of the persisted key
    * layout feeding one anti-join on the canonical key (delta as build
    * side — the [[minhashIngestBatch]] delta×corpus discipline). */
  def urlFrontierIngest(urls: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery = {
    requireNoFlatLegacyState(urls.sparkSession, s"$statePath/seen")
    urls.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        urlFrontierIngestBatch(batch, statePath, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  private[graft] def urlFrontierIngestBatch(batch: DataFrame,
      statePath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val seenPath = s"$statePath/seen"
    val canon = batch
      .select(col("doc_id"), graft.text.Urls.canonical(col("url")).as("curl"))
      .groupBy("curl").agg(min(col("doc_id")).as("keeper"))
    val fresh =
      if (graft.store.Fs.exists(spark, seenPath))
        canon.join(
          spark.read.parquet(seenPath)
            .where(col("batch") < batchId).select("curl"),
          Seq("curl"), "left_anti")
      else canon
    writeBatchPartition(fresh, seenPath, batchId)
  }

  /** The grown frontier: every canonical key ever admitted, with its
    * first-arrival keeper — equals the batch kernel's (curl, keeper) set
    * when discovery ids ascend with batches. */
  def urlFrontierFrom(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(s"$statePath/seen").select("curl", "keeper")

  /** Streaming WARC acquisition — the continuous twin of the batch crawl
    * ingest ([[graft.sources.WarcSource.readDocuments]]): archives LAND
    * continuously (a crawler drops `.warc`/`.warc.gz` files as it
    * fetches), and the pipeline should not wait for a "crawl complete"
    * marker. Each micro-batch of newly-arrived archive files (the
    * `binaryFile` streaming source: one row per file with its bytes)
    * parses task-side through the SAME fail-loud record parser + article
    * recovery the batch reader uses — one shared body, the two cannot
    * drift — and appends its documents as an idempotent `batch=<id>`
    * partition. The grown state equals the batch reader over all files
    * landed so far (StreamingSpec), so every downstream stage
    * (clean → dedup → gates → mix) can run incrementally off it.
    *
    * Scale shape: parallelism per archive file (the crawl layout), only
    * the delta's files parse per batch, nothing collected. */
  def warcIngest(files: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery = {
    requireNoFlatLegacyState(files.sparkSession, s"$statePath/docs")
    files.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        warcIngestBatch(batch, statePath, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  private[graft] def warcIngestBatch(batch: DataFrame, statePath: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val rows = batch.select(col("path"), col("content")).rdd.flatMap { r =>
      graft.sources.WarcSource.docsFromBytes(
        r.getString(0), r.getAs[Array[Byte]](1))
    }
    writeBatchPartition(
      spark.createDataFrame(rows, graft.sources.JsonlSource.documentsSchema),
      s"$statePath/docs", batchId)
  }

  /** The grown acquisition corpus: every document parsed from every
    * archive landed so far — the canonical documents shape. */
  def warcDocsFrom(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(s"$statePath/docs").drop("batch")

  /** Streaming twin of the deterministic shard shuffle
    * ([[graft.queries.PipelineQueries.shuffleShards]]) — the
    * daily-increment shape: each micro-batch's docs hash to their shards
    * (md5 — epoch-independent) and APPEND after the shard's existing
    * rows, ranked within the batch by the same seeded md5 position key.
    * Prior epochs' positions are FROZEN — a grown layout never moves a
    * previously assigned (shard, pos), so training manifests stay valid
    * across arrivals — and the grown state equals the epoch-ordered batch
    * twin ([[graft.queries.PipelineQueries.shuffleShardsEpochs]],
    * StreamingSpec-gated).
    *
    * Scale shape: only the delta pays hashing and ranking (the rank
    * window is per-(shard ∩ batch) — delta-sized); the base offsets are
    * ONE count aggregate over the committed layout's shard column.
    * Idempotent per-batch overwrite into `batch=<id>` like every state
    * layout here; bases read only batches < id, so a replay recomputes
    * identical positions. */
  def shardShuffleIngest(docs: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        shardShuffleIngestBatch(batch, statePath, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  private[graft] def shardShuffleIngestBatch(batch: DataFrame,
      statePath: String, batchId: Long): Unit = {
    import graft.queries.PipelineQueries.{NumShards, ShardSalt}
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val keyed = batch.select(col("doc_id"))
      .withColumn("shard", pmod(
        graft.dedup.Dedup.hash60(
          concat(col("doc_id").cast("string"), lit(ShardSalt))),
        lit(NumShards.toLong)))
      .withColumn("skey",
        md5(concat(lit("pos"), col("doc_id").cast("string"), lit(ShardSalt))))
    val bases =
      if (graft.store.Fs.exists(spark, statePath) &&
          graft.store.Fs.dataFileCount(spark, statePath) > 0)
        spark.read.parquet(statePath)
          .where(col("batch") < batchId)
          .groupBy("shard").agg(count(lit(1)).as("base"))
      else {
        import spark.implicits._
        Seq.empty[(Long, Long)].toDF("shard", "base")
      }
    // bases is BOUNDED (≤ NumShards rows) — broadcast, unlike the
    // corpus-growing per-doc aggregates this module shuffle-hashes
    writeBatchPartition(
      keyed.join(broadcast(bases), Seq("shard"), "left")
        .withColumn("pos",
          (coalesce(col("base"), lit(0L)) +
            row_number().over(
              Window.partitionBy("shard").orderBy(col("skey"), col("doc_id"))) - 1)
            .cast("long"))
        .select("doc_id", "shard", "pos"),
      statePath, batchId)
  }

  /** Streaming twin of the temperature mix
    * ([[graft.queries.PipelineQueries.temperatureMix]]) — the
    * daily-increment shape: each micro-batch (1) lands its per-source
    * mass contribution in `mass/batch=<id>`, (2) recomputes thresholds
    * from the CUMULATIVE masses through this batch (first batch ≡ the
    * batch operator's thresholds), and (3) decides acceptance for the
    * DELTA docs only — prior epochs' decisions are FROZEN (no retroactive
    * resampling as the mixture drifts), landing in `kept/batch=<id>`.
    * Grown decisions equal the epoch-ordered batch twin
    * ([[graft.queries.PipelineQueries.temperatureMixEpochs]],
    * StreamingSpec-gated).
    *
    * Scale shape: the mass state is rows = #sources × #batches (bounded);
    * thresholds broadcast back onto the delta scan only. Both writes are
    * idempotent per-batch overwrites; the cumulative read takes batches
    * ≤ id, so a replay (whose own partition it first rewrites) computes
    * identical thresholds. */
  def temperatureMixIngest(docs: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        temperatureMixIngestBatch(batch, statePath, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  private[graft] def temperatureMixIngestBatch(batch: DataFrame,
      statePath: String, batchId: Long): Unit = {
    import graft.queries.PipelineQueries.{MixBuckets, MixSalt}
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    // two consumers (mass write + acceptance write) — cache the delta so
    // the micro-batch source scans once, like minhashIngestBatch's sigs
    val rows = batch.select("doc_id", "source", "n_chars").cache()
    try {
      writeBatchPartition(rows.groupBy("source").agg(sum("n_chars").as("m")),
        s"$statePath/mass", batchId)
      val thr = spark.read.parquet(s"$statePath/mass")
        .where(col("batch") <= batchId)
        .groupBy("source").agg(sum("m").as("cmass"))
        .withColumn("mmax", max("cmass").over(Window.partitionBy()))
        .select(col("source"),
          floor(sqrt(col("cmass").cast("double") / col("mmax").cast("double"))
            * MixBuckets.toDouble).cast("long").as("threshold"))
      writeBatchPartition(
        rows.join(broadcast(thr), "source")
          .withColumn("bucket", pmod(
            graft.dedup.Dedup.hash60(
              concat(col("doc_id").cast("string"), lit(MixSalt))),
            lit(MixBuckets)))
          .select(col("doc_id"), col("source"), col("bucket"), col("threshold"),
            (col("bucket") < col("threshold")).as("kept")),
        s"$statePath/kept", batchId)
    } finally rows.unpersist() // a retried write must not leak cached blocks
  }

  /** Streaming twin of the bigram-rarity scorer
    * ([[graft.queries.TextQueries.bigramRarity]]) — the daily-increment
    * shape: each micro-batch (1) lands its per-gram bigram counts in
    * `grams/batch=<id>`, (2) re-derives the CUMULATIVE corpus counts
    * through this batch, and (3) scores the DELTA docs only against
    * them — prior batches' scores are FROZEN (a doc is scored once, at
    * arrival, like a streaming curation gate scores it), landing in
    * `scores/batch=<id>`. Grown scores equal the epoch-ordered batch
    * twin ([[graft.queries.TextQueries.bigramRarityEpochs]],
    * StreamingSpec-gated).
    *
    * Scale shape: only the delta pays the explode; the cumulative count
    * re-aggregate shuffles the gram state (corpus-growing — never
    * broadcast, exactly like the batch operator's count table; a
    * production deployment compacts `grams/` periodically so the scan
    * stays one merged table). Both writes are idempotent per-batch
    * overwrites; the cumulative read takes batches ≤ id, so a replay
    * computes identical scores. */
  def bigramRarityIngest(docs: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        bigramRarityIngestBatch(batch, statePath, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  private[graft] def bigramRarityIngestBatch(batch: DataFrame,
      statePath: String, batchId: Long): Unit = {
    import graft.queries.TextQueries.RareBigramMin
    val spark = batch.sparkSession
    val rows = batch.select("doc_id", "text").cache()
    // two consumers of the delta grams (count write + probe join): cache,
    // and release both in finally so a retried write leaks no blocks
    val grams = rows.where(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"),
        explode(graft.dedup.Dedup.ngrams(col("text"), 2)).as("gram"))
      .cache()
    try {
      writeBatchPartition(grams.groupBy("gram").agg(count(lit(1)).as("n")),
        s"$statePath/grams", batchId)
      val counts = spark.read.parquet(s"$statePath/grams")
        .where(col("batch") <= batchId)
        .groupBy("gram").agg(sum("n").as("cn"))
      val perDoc = grams.join(counts.hint("shuffle_hash"), "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("cn") < RareBigramMin, 1L).otherwise(0L)).as("n_rare"))
      writeBatchPartition(
        rows.select(col("doc_id"))
          .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            coalesce(col("n_rare"), lit(0L)).as("n_rare"))
          .withColumn("rare_frac",
            when(col("n_bigrams") === 0L, lit(0.0))
              .otherwise(round(col("n_rare").cast("double") /
                col("n_bigrams").cast("double"), 6))),
        s"$statePath/scores", batchId)
    } finally { grams.unpersist(); rows.unpersist() }
  }

  /** Streaming twin of image perceptual-hash dedup
    * ([[graft.dedup.Dedup.imageNearDupPairs]]) over a stream of
    * `(doc_id, payload)` raster blobs — the arrival shape of an image
    * firehose: per micro-batch (1) ONLY the delta pays the decode+dHash
    * cost, its 64-bit hashes landing in `hash/batch=<id>` (hash bands
    * append per batch exactly like the MinHash signature bands), and
    * (2) the delta band-joins the read-back hash state — corpus-so-far
    * INCLUDING the batch — via the complete Hamming-pigeonhole join
    * ([[graft.dedup.Dedup.simhashIncrementalPairs]], bits = 64), pairs
    * landing in `pairs/batch=<id>`. Union-over-batches equals the batch
    * pair set (every pair is discovered when its later endpoint
    * arrives; StreamingSpec-gated), and both writes are idempotent
    * per-batch overwrites, so replays neither duplicate pairs nor
    * re-hash history. */
  def imagePhashIngest(images: DataFrame, statePath: String,
      checkpoint: String, maxHamming: Int = 3): StreamingQuery =
    images.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        imagePhashIngestBatch(batch, statePath, maxHamming, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  private[graft] def imagePhashIngestBatch(batch: DataFrame,
      statePath: String, maxHamming: Int, batchId: Long): Unit =
    fingerprintIngestBatch(batch, statePath, maxHamming, batchId,
      graft.functions.MediaExpressions.dhash)

  /** Streaming twin of the deterministic sketch family (`q_heavy_hitters`
    * Count-Min counters, `q_hll_users` HLL registers, `q_quantile_sketch`
    * bottom-s samples) over an events stream — the demonstration of WHY a
    * 100 TB dashboard runs sketches: every per-batch partial is tiny and
    * the states merge ASSOCIATIVELY, so ingest appends bounded partials
    * and serving folds them without ever touching raw history.
    *
    *  - Count-Min partials (`cm/batch=<id>`: depth×width counter rows of
    *    the batch) merge by ADDITION;
    *  - HLL register partials (`hll/batch=<id>`: per-(type, bucket) max ρ
    *    of the batch) merge by MAX;
    *  - quantile-sample partials (`qs/batch=<id>`: per-type bottom-s by
    *    md5 priority within the batch) merge by RE-TRUNCATION — every
    *    globally-kept row is kept in its own batch's partial, so bottom-s
    *    over the union of partials equals bottom-s over the raw union;
    *  - KMV set-sketch partials (`kmv/batch=<id>`: per-type bottom-k
    *    distinct element hashes, `q_kmv_sets`'s kernel) merge by
    *    DISTINCT-then-RE-TRUNCATION — the theta-sketch union.
    *
    * Each partial is computed by the SAME kernel the batch sketch uses
    * ([[graft.queries.AnalyticsQueries.cmCounters]]/[[graft.queries.
    * AnalyticsQueries.hllRegisters]]/[[graft.operators.TopK.
    * perGroupBottomS]] — one definition, twins cannot drift), writes are
    * idempotent per-batch overwrites, and [[compactBatchState]] folds the
    * logs with each state's own merge (sum / max / re-truncate) via
    * [[compactSketchState]]. Grown-state reads
    * ([[cmCountersFrom]]/[[hllRegistersFrom]]/[[qsSampleFrom]]) equal the
    * batch kernels over the full history (StreamingSpec). */
  def sketchIngest(events: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sketchIngestBatch(batch, statePath, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  private[graft] def sketchIngestBatch(batch: DataFrame, statePath: String,
      batchId: Long): Unit = {
    import graft.queries.AnalyticsQueries
    val cached = batch.cache()
    try {
      writeBatchPartition(AnalyticsQueries.cmCounters(
          cached.select(col("user_id").cast("string").as("k"))),
        s"$statePath/cm", batchId)
      writeBatchPartition(AnalyticsQueries.hllRegisters(cached),
        s"$statePath/hll", batchId)
      writeBatchPartition(graft.operators.TopK.perGroupBottomS(
          AnalyticsQueries.qsPrioritized(cached),
          "event_type", col("pri"), col("value"), AnalyticsQueries.QsSampleSize),
        s"$statePath/qs", batchId)
      writeBatchPartition(AnalyticsQueries.kmvSketches(cached),
        s"$statePath/kmv", batchId)
    } finally cached.unpersist()
  }

  /** Cumulative Count-Min counters from the grown state: partials summed
    * per (r, cell) — equals [[graft.queries.AnalyticsQueries.cmCounters]]
    * over the full history. */
  def cmCountersFrom(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(s"$statePath/cm")
      .groupBy("r", "cell").agg(sum("c").as("c"))

  /** Cumulative HLL registers: partials maxed per (type, bucket). */
  def hllRegistersFrom(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(s"$statePath/hll")
      .groupBy("event_type", "bucket").agg(max("m").as("m"))

  /** Cumulative quantile sample: bottom-s re-truncation over the union of
    * partials. */
  def qsSampleFrom(spark: SparkSession, statePath: String): DataFrame =
    graft.operators.TopK.perGroupBottomS(
      spark.read.parquet(s"$statePath/qs"),
      "event_type", col("pri"), col("value"),
      graft.queries.AnalyticsQueries.QsSampleSize)

  /** Cumulative KMV set sketch: DISTINCT then bottom-k re-truncation over
    * the union of partials — distinct first because, unlike the qs
    * sample's per-event priorities, the SAME element recurring across
    * batches hashes identically, and a duplicated hash would displace a
    * genuine k-th minimum. Every globally-bottom-k hash is bottom-k
    * within its own batch, so this equals [[graft.queries.
    * AnalyticsQueries.kmvSketches]] over the full history.
    *
    * The projection to `(event_type, h)` must come BEFORE the distinct:
    * the raw read's schema carries the `batch` partition column, and a
    * distinct over it would keep one copy of the same hash PER BATCH —
    * exactly the duplicated-hash displacement this step exists to
    * prevent once a type exceeds k distinct elements. */
  def kmvSketchFrom(spark: SparkSession, statePath: String): DataFrame =
    graft.operators.TopK.perGroupBottomS(
      spark.read.parquet(s"$statePath/kmv")
        .select("event_type", "h").distinct()
        .select(col("event_type"), col("h"), lit(0.0).as("v")),
      "event_type", col("h"), col("v"), graft.queries.AnalyticsQueries.KmvK)
      .select(col("event_type"), col("pri").as("h"))

  /** [[compactBatchState]] over the three sketch logs, each folded with
    * its own merge: counters re-SUM, registers re-MAX, samples
    * re-TRUNCATE — the same associative merges serving uses, so a
    * compacted state reads identically. */
  def compactSketchState(spark: SparkSession, statePath: String): Seq[String] = {
    val did = Seq(
      s"$statePath/cm" -> compactBatchState(spark, s"$statePath/cm",
        fold = _.groupBy("r", "cell").agg(sum("c").as("c"))),
      s"$statePath/hll" -> compactBatchState(spark, s"$statePath/hll",
        fold = _.groupBy("event_type", "bucket").agg(max("m").as("m"))),
      s"$statePath/qs" -> compactBatchState(spark, s"$statePath/qs",
        fold = df => graft.operators.TopK.perGroupBottomS(df, "event_type",
          col("pri"), col("value"), graft.queries.AnalyticsQueries.QsSampleSize)),
      s"$statePath/kmv" -> compactBatchState(spark, s"$statePath/kmv",
        fold = df => graft.operators.TopK.perGroupBottomS(
          df.select("event_type", "h").distinct()
            .select(col("event_type"), col("h"), lit(0.0).as("v")),
          "event_type", col("h"), col("v"),
          graft.queries.AnalyticsQueries.KmvK)
          .select(col("event_type"), col("pri").as("h"))))
    did.collect { case (p, true) => p }
  }

  /** Streaming twin of the keyed bulk MERGE
    * ([[graft.store.VectorStore.mergeVersioned]]) — the CDC shape: a
    * stream of `(id, payload…, op ∈ {U, D}, seq)` change events applied
    * per micro-batch as one commit-marker version on a
    * [[graft.store.VersionedLayout]] root. Each batch is first COMPACTED
    * to its last event per id (max `seq`; a CDC window naturally carries
    * several events per key — merge's at-most-one-row-per-id contract is
    * this stage's job), then lands through the same crash-safe publish
    * the batch entry (`vq_merge_agg`) uses: readers keep the prior
    * snapshot until the marker, a torn write is invisible and the next
    * batch publishes over its leftovers, an invalid op fails the batch
    * loudly BEFORE anything lands (eager op validation), and the writer
    * lock rejects a concurrent publisher.
    *
    * Replay idempotence is SEMANTIC here rather than partition-overwrite:
    * re-applying a batch's compacted delta to the state it already
    * produced is a no-op by the merge algebra (upserting the same rows,
    * deleting already-absent ids), so a foreachBatch replay lands an
    * extra version with IDENTICAL content (StreamingSpec-gated). Grown
    * state equals the one-shot batch merge of the globally-compacted
    * event log — sequential keyed merges are associative under
    * last-writer-wins compaction — which is the parity StreamingSpec
    * proves. Empty micro-batches publish nothing. */
  def mergeIngest(deltas: DataFrame, root: String, checkpoint: String,
      idCol: String = "id", opCol: String = "op",
      seqCol: String = "seq"): StreamingQuery =
    deltas.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeIngestBatch(batch, root, idCol, opCol, seqCol)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** One CDC micro-batch: compact to the last event per id, drop the
    * sequence column, land through the commit-marker merge. Ties on
    * `seq` break toward the later op alphabetically descending ("U" over
    * "D") — deterministic, though unique seqs per id are the stream's
    * contract. */
  private[graft] def mergeIngestBatch(batch: DataFrame, root: String,
      idCol: String, opCol: String, seqCol: String): Unit = {
    if (batch.isEmpty) return
    // validate the RAW batch before compaction: last-writer-wins would
    // otherwise silently discard an invalid op shadowed by a later event
    // for the same key, and a malformed feed must fail loudly whether or
    // not its bad events happen to be superseded
    graft.store.VectorStore.requireValidOps(batch, opCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col(seqCol).desc, col(opCol).desc)
    val compacted = batch
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn", seqCol)
    graft.store.VectorStore.mergeVersioned(
      batch.sparkSession, root, compacted, idCol, opCol)
    ()
  }

  /** Streaming twin of audio fingerprint dedup
    * ([[graft.dedup.Dedup.audioNearDupPairs]]) over a stream of
    * `(doc_id, payload)` PCM-WAV blobs — the same shape, state layout
    * (`hash/batch=<id>`, `pairs/batch=<id>`), replay/idempotence and
    * union-equals-batch contract as [[imagePhashIngest]], with the
    * band-energy fingerprint as the 64-bit key; only the delta pays the
    * PCM decode. [[compactPhashState]] applies verbatim (same two
    * append-only dirs). */
  def audioFpIngest(clips: DataFrame, statePath: String,
      checkpoint: String, maxHamming: Int = 3): StreamingQuery =
    clips.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        audioFpIngestBatch(batch, statePath, maxHamming, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  private[graft] def audioFpIngestBatch(batch: DataFrame,
      statePath: String, maxHamming: Int, batchId: Long): Unit =
    fingerprintIngestBatch(batch, statePath, maxHamming, batchId,
      graft.functions.MediaExpressions.audioFp)

  /** Streaming twin of video near-dup dedup
    * ([[graft.dedup.Dedup.videoNearDupPairs]]) over a stream of
    * `(doc_id, payload)` Y4M clips — the third modality beside
    * [[imagePhashIngest]] and [[audioFpIngest]], same state layout
    * (`hash/batch=<id>` now holding the ALIGNED per-frame hash arrays,
    * `pairs/batch=<id>`), same replay/idempotence and union-equals-batch
    * contract; only the delta pays the frame decode+hash cost, and pairs
    * come from the slot-0 band join with the per-aligned-slot verify
    * ([[graft.dedup.Dedup.videoIncrementalPairs]]).
    * [[compactPhashState]] applies verbatim (same two append-only
    * dirs). */
  def videoFpIngest(clips: DataFrame, statePath: String,
      checkpoint: String, maxHamming: Int = 3): StreamingQuery =
    clips.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        videoFpIngestBatch(batch, statePath, maxHamming, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  private[graft] def videoFpIngestBatch(batch: DataFrame,
      statePath: String, maxHamming: Int, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val hashPath = s"$statePath/hash"
    val batchFp = batch.select(col("doc_id").as("doc"),
        graft.functions.MediaExpressions.videoFp(col("payload")).as("fps"))
      .cache()
    try {
      writeBatchPartition(batchFp, hashPath, batchId)
      writeBatchPartition(
        graft.dedup.Dedup.videoIncrementalPairs(
          batchFp,
          spark.read.parquet(hashPath)
            .where(col("batch") <= batchId).drop("batch"),
          maxHamming),
        s"$statePath/pairs", batchId)
    } finally batchFp.unpersist()
  }

  /** The shared per-batch body of the 64-bit-fingerprint dedup twins
    * ([[imagePhashIngestBatch]], [[audioFpIngestBatch]]): delta-only
    * fingerprinting via `fp`, hashes landing in `hash/batch=<id>`, the
    * delta band-joined against the read-back state — corpus-so-far
    * INCLUDING the batch, and ≤ batchId because a backfill replay of a
    * NON-final batch must not see future batches' hashes, or their pairs
    * land in this batch's dir too and the union double-counts them —
    * pairs landing in `pairs/batch=<id>`. Both writes are idempotent
    * per-batch overwrites. One body so the replay-containment and
    * cache/unpersist discipline cannot drift between the media twins. */
  private def fingerprintIngestBatch(batch: DataFrame, statePath: String,
      maxHamming: Int, batchId: Long,
      fp: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit = {
    val spark = batch.sparkSession
    val hashPath = s"$statePath/hash"
    val batchHash = batch.select(col("doc_id").as("doc"),
        fp(col("payload")).as("simhash"))
      .cache()
    try {
      writeBatchPartition(batchHash, hashPath, batchId)
      writeBatchPartition(
        graft.dedup.Dedup.simhashIncrementalPairs(
          batchHash,
          spark.read.parquet(hashPath)
            .where(col("batch") <= batchId).drop("batch"),
          maxHamming, bits = 64),
        s"$statePath/pairs", batchId)
    } finally batchHash.unpersist()
  }

  /** Streaming twin of the curated-mix pipeline's STATELESS stages
    * ([[graft.queries.PipelineQueries.curationFilter]]): quality floor +
    * per-language deterministic stratified sampling over a document
    * stream. Pure expressions — no state, no watermark, identical output
    * to the batch filter on the same rows (StreamingSpec). The stateful
    * keeper-selection stage (exact/near-dup dedup) composes upstream via
    * [[dedupStreamWithinWatermark]]-style dedup in-stream, or runs in the
    * batch/compaction layer where the full pair graph is available. */
  def curateDocStream(docs: DataFrame): DataFrame =
    docs
      .where(graft.queries.PipelineQueries.curationFilter)
      .select(col("doc_id"), col("lang"),
        round(graft.text.TextAnalysis.qualityScore(col("text")), 6).as("quality"))

  /** Streaming twin of doc-boundary FFD packing
    * ([[graft.operators.SeqPack.ffdPack]]) — the daily-increment shape:
    * each micro-batch's docs first-fit (count-descending within the
    * batch) into the bins earlier batches left open, per hash shard;
    * prior assignments are FROZEN (a grown layout never moves a placed
    * doc — training manifests stay valid) and new bins open past the
    * existing ids. Grown assignments equal the epoch-ordered batch twin
    * ([[graft.operators.SeqPack.ffdEpochs]], StreamingSpec-gated), and a
    * single-batch run degenerates to exactly the batch [[graft.operators.
    * SeqPack.ffdPack]].
    *
    * STATE = the assignment log itself: per-shard bin remainders are
    * reconstructed each batch from `asg/batch<id` (one aggregate over the
    * log — [[compactBatchState]] folds it when the partition count
    * grows), so there is no second state table to keep consistent and a
    * replay (which reads only batches < its id) recomputes identical
    * placements into its own overwritten partition. Per-shard bin ids
    * are contiguous from 0 (every bin holds ≥ 1 doc), so creation order
    * — the first-fit scan order — survives the round-trip through the
    * log. */
  def ffdIngest(docs: DataFrame, statePath: String, checkpoint: String,
      cap: Int, shards: Int = 32): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ffdIngestBatch(batch, statePath, cap, shards, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  private[graft] def ffdIngestBatch(batch: DataFrame, statePath: String,
      cap: Int, shards: Int, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val capL = cap.toLong
    val items = batch.select(col("doc_id").cast("long").as("doc"),
        (graft.operators.SeqPack.packHash(col("doc_id")) % shards)
          .cast("int").as("shard"),
        least(graft.text.TextAnalysis.tokenCount(col("text")).cast("long"),
          lit(capL)).as("n"))
      .as[(Long, Int, Long)]
    val priorBins =
      if (graft.store.Fs.exists(spark, statePath) &&
          graft.store.Fs.dataFileCount(spark, statePath) > 0)
        spark.read.parquet(statePath)
          .where(col("batch").cast("long") < batchId)
          .groupBy("shard", "bin").agg((lit(capL) - sum("n")).as("rem"))
          .select(col("shard").cast("int"), col("bin").cast("long"),
            col("rem").cast("long"))
          .as[(Int, Long, Long)]
      else spark.emptyDataset[(Int, Long, Long)]
    val placed = priorBins.groupByKey(_._1)
      .cogroup(items.groupByKey(_._2)) { (shard, binsIt, itemsIt) =>
        val prior = binsIt.toArray.sortBy(_._2) // ascending bin id
        val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
        prior.foreach { case (_, _, rem) => bins += rem }
        graft.operators.SeqPack.firstFit(cap, bins,
            itemsIt.toArray.sortBy { case (doc, _, n) => (-n, doc) }
              .iterator.map { case (doc, _, n) => (doc, n) })
          .map { case (doc, n, bin) => (doc, n, shard, bin) }
      }
      .toDF("doc_id", "n", "shard", "bin")
    writeBatchPartition(placed, statePath, batchId)
  }

  /** Streaming twin of the LEARNED quality gate
    * ([[graft.queries.TextQueries.qualityModelScores]]): score a document
    * stream under a FROZEN published model — the deployment shape of a
    * trained curation gate (train offline, serve the quantized weights on
    * the firehose). It is the batch scorer itself
    * ([[graft.text.QualityModel.score]]), which is pure per-row: no
    * explode, no join, no streaming aggregation state, so the stream runs
    * in plain append mode. NULL-text docs are dropped, as in batch. Model
    * drift is a REDEPLOY, not stream state — scores stay frozen at their
    * arrival model version like every incremental twin here. */
  def qualityGateStream(docs: DataFrame,
      model: graft.text.QualityModel.Model): DataFrame =
    graft.text.QualityModel.score(docs, model)

  /** Streaming twin of the DSIR resampler ([[graft.text.Dsir]]) under a
    * FROZEN fitted model — the deployment shape: fit once on a corpus +
    * target sample (a build step), then gate the doc firehose. It is
    * [[graft.text.Dsir.decisions]] itself, which is pure per-row: no
    * state, no watermark, plain append mode — the per-doc purity
    * TrancheSpec's composition case proves. Model drift is a redeploy,
    * not stream state. */
  def dsirGateStream(docs: DataFrame, model: graft.text.Dsir.Model): DataFrame =
    graft.text.Dsir.decisions(docs, model)

  /** Streaming twin of the learned language ID
    * ([[graft.text.LangIdModel.classify]]) under a frozen model —
    * completes the stream-twin set of the four learned gates (quality,
    * DSIR, LM, language). It is the batch classifier itself, which is
    * pure per-row: stateless, append mode. */
  def langIdStream(docs: DataFrame,
      m: graft.text.LangIdModel.Model): DataFrame =
    graft.text.LangIdModel.classify(docs, m)

  /** Streaming twin of the relative perplexity gate
    * ([[graft.queries.PipelineQueries.perplexityGate]]) under a FROZEN
    * model AND a FROZEN threshold — the deployment shape: the LM fits on
    * the reference slice and the pooled threshold freezes at train time
    * (both build steps), then the doc firehose gates statelessly. The
    * scores are [[graft.text.NgramLm.score]]'s, whose per-row kernel
    * carries the model (no literal, no join, no state); output (doc_id,
    * n_bigrams, nll_q, kept) adds the gate's integer micro-nats compare,
    * docs without bigrams (NULL, empty, one token) never kept. Threshold
    * drift is a redeploy, not stream state — the same contract as model
    * drift. */
  def lmGateStream(docs: DataFrame, model: graft.text.NgramLm.Model,
      thrMicro: Long): DataFrame =
    graft.text.NgramLm.score(docs, model)
      .select(col("doc_id"), col("n_bigrams"), col("nll_q"),
        when(col("n_bigrams") > 0 &&
          expr("nll_q div n_bigrams") < lit(thrMicro), 1L).otherwise(0L).as("kept"))

  /** Streaming twin of the PII scrub ([[graft.queries.TextQueries]]'s
    * `tx_pii` stage): typed match counts + the redacted text, per
    * micro-batch. Pure regexp expressions — stateless, no watermark,
    * row-identical to the batch operator on the same rows
    * (StreamingSpec); the shape of scrubbing an ingest firehose before it
    * ever lands. */
  def piiScrubStream(docs: DataFrame): DataFrame = {
    import graft.text.Pii
    docs.select(col("doc_id"),
      Pii.emailCount(col("text")).as("emails"),
      Pii.phoneCount(col("text")).as("phones"),
      Pii.ipv4Count(col("text")).as("ips"),
      Pii.redact(col("text")).as("clean_text"))
  }

  /** Streaming twin of the RAG chunking stage
    * ([[graft.queries.TextQueries.chunks]]): pure expressions per
    * micro-batch — stateless, no watermark, identical output to the batch
    * operator on the same rows (StreamingSpec). The natural upstream of a
    * streaming embed + incremental-index ingest
    * ([[ingestWithIvfAssign]]). */
  def chunkDocStream(docs: DataFrame, size: Int = 32, stride: Int = 16): DataFrame =
    docs.select(col("doc_id"),
      posexplode(graft.text.TextAnalysis.chunks(col("text"), size, stride))
        .as(Seq("chunk_ix", "chunk")))

  /** Streaming RAG ingest — text stream in, searchable ANN index out: the
    * streaming twin of [[graft.queries.PipelineQueries.ragEndToEnd]]'s
    * index-build stage, composed entirely from pieces already gated
    * individually. Each micro-batch chunks its documents
    * ([[chunkDocStream]] — pure expressions), embeds the chunks through
    * the deterministic seam ([[graft.text.TextEmbedder]] — value-gated by
    * `tx_embed`), and appends assign-only rows into the cluster-
    * partitioned layout under the EXISTING centroids
    * ([[ingestWithIvfAssign]]'s contract — per-batch cost O(batch)).
    * Refit stays the scheduled [[graft.index.Ivf.maintainClustered]]
    * decision, exactly like every other streaming index. Every stage is
    * stateless expressions, so streamed output is row-identical to the
    * batch pipeline on the same documents (StreamingSpec). */
  def ragIngest(docs: DataFrame, indexPath: String, checkpoint: String,
      model: graft.index.Ivf.IvfModel, embedder: graft.text.TextEmbedder,
      size: Int = 32, stride: Int = 16): StreamingQuery =
    ingestWithIvfAssign(
      chunkDocStream(docs, size, stride).select(
        graft.queries.TextQueries.chunkId(col("doc_id"), col("chunk_ix")).as("chunk_id"),
        embedder.embed(col("chunk")).as("vector")),
      indexPath, checkpoint, "vector", model)

  /** embeddings schema as stored. */
  val EmbeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming read of an embeddings parquet directory. */
  def readEmbeddings(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(EmbeddingsSchema).parquet(dir)

  /** Streaming SEMANTIC DEDUP — the streaming twin of
    * [[graft.queries.DedupQueries.semanticKeepersBucketed]]
    * (`dd_semantic_ivf`), completing the dedup-family streaming coverage.
    * Per micro-batch, three O(batch) stages against persisted state under
    * `statePath`:
    *
    *  1. ASSIGN-ONLY INGEST: batch rows land in a cluster-partitioned
    *     corpus layout under the existing centroids (the
    *     [[ingestWithIvfAssign]] contract), PLUS a multi-probe inverted
    *     list (`probed/` — each row stored under its `nProbes` closest
    *     clusters). Storing probe rows costs nProbes× the ingest bytes;
    *     the alternative — recomputing old rows' probe lists every batch —
    *     is O(corpus) per batch, which is the wrong trade at scale.
    *  2. DELTA PAIR DISCOVERY, BOTH DIRECTIONS: new pairs have ≥1 endpoint
    *     in the batch, but the batch twin admits a pair when EITHER
    *     endpoint probes the other's assigned cluster — so the delta join
    *     must check batch-probes⋈corpus-assigned AND
    *     batch-assigned⋈corpus-probed (corpus includes the batch, covering
    *     batch-internal pairs). The union over batches is then EXACTLY the
    *     batch operator's pair set — StreamingSpec asserts set equality,
    *     not approximation.
    *  3. CC DELTA MERGE: connected components over star edges
    *     (vertex → its previous component label) ∪ the fresh pairs —
    *     previous components enter as depth-1 stars, so the merge
    *     converges in ~1 contraction cycle unless fresh pairs bridge
    *     components. Labels publish through [[graft.store.VersionedLayout]]
    *     (readers keep their snapshot; a crashed batch leaves the previous
    *     version live).
    *
    * At-least-once caveat (standard foreachBatch): a replayed batch
    * re-appends its rows and pairs; CC and keeper flags are insensitive to
    * duplicate edges/rows, and serving distincts ids. */
  def semanticDedupIngest(stream: DataFrame, statePath: String, checkpoint: String,
      model: graft.index.Ivf.IvfModel, threshold: Double = 0.4, nProbes: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        semanticIngestBatch(batch, statePath, batchId, model, threshold,
          nProbes, vecCol, idCol)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  private[graft] def semanticIngestBatch(batch: DataFrame, statePath: String,
      batchId: Long, model: graft.index.Ivf.IvfModel, threshold: Double,
      nProbes: Int, vecCol: String, idCol: String): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vector")).cache()
    b.count()
    val assignedPath = s"$statePath/assigned"
    val probedPath = s"$statePath/probed"
    val batchAssigned = graft.index.Ivf.assign(b, model, "vector")
      .select(col("id"), col("vector"), col("cluster_id"))
    val batchProbed = b.select(col("id"), col("vector"),
      explode(graft.functions.ModelExpressions.probeClusters(
        col("vector"), model.centroids, graft.functions.ProbeStop.nearest(nProbes)))
        .as("cluster_id"))
    batchAssigned.write.mode("append").partitionBy("cluster_id").parquet(assignedPath)
    batchProbed.write.mode("append").partitionBy("cluster_id").parquet(probedPath)
    // corpus-so-far INCLUDING this batch (read back after the appends):
    // covers old↔new pairs in both probe directions and new↔new pairs
    def candidates(left: DataFrame, right: DataFrame): DataFrame =
      left.select(col("id").as("da"), col("vector").as("va"), col("cluster_id"))
        .join(right.select(col("id").as("db"),
          col("vector").cast("array<double>").as("vb"),
          col("cluster_id")).hint("shuffle_hash"), Seq("cluster_id"))
        .where(col("da") =!= col("db"))
        .withColumn("sim_raw",
          graft.GraftExtensions.cosineSim(col("va"), col("vb")))
        .where(col("sim_raw") >= threshold)
        .select(least(col("da"), col("db")).as("da"),
          greatest(col("da"), col("db")).as("db"))
    val newPairs = candidates(batchProbed, spark.read.parquet(assignedPath))
      .union(candidates(batchAssigned, spark.read.parquet(probedPath)))
      .distinct()
    val pairsPath = s"$statePath/pairs"
    newPairs.withColumn("batch", lit(batchId))
      .write.mode("append").partitionBy("batch").parquet(pairsPath)
    // fresh pairs re-read from the partition just written (pruned scan),
    // so the CC below runs over a flat plan, not the discovery join
    val freshPairs = spark.read.parquet(pairsPath)
      .where(col("batch") === batchId).select(col("da"), col("db"))
    val labelsRoot = s"$statePath/labels"
    val prior = graft.store.VersionedLayout.currentDir(spark, labelsRoot) match {
      case Some(dir) => spark.read.parquet(dir)
      case None => freshPairs.limit(0)
        .select(col("da").as("vec_id"), col("db").as("component"))
    }
    // delta re-propagation over the published assignment — the SAME
    // maintenance move the batch component layouts document
    // ([[graft.dedup.Dedup.incrementalComponents]]): star edges of the
    // prior labels ∪ this batch's pairs, contracted over touched
    // vertices only; untouched rows resolve to kept=1 at serve time
    val labels = graft.dedup.Dedup.incrementalComponents(
      prior, "vec_id", freshPairs)
    graft.store.VersionedLayout.publish(spark, labelsRoot)(dir =>
      labels.write.mode("overwrite").parquet(dir))
    b.unpersist()
    ()
  }

  /** Keeper view over the streamed state — same schema and semantics as
    * the batch twin's output (vec_id, component, kept): ingested ids left-
    * joined to the latest published labels; ids untouched by any pair are
    * their own component. */
  def semanticKeepersStreamed(spark: SparkSession, statePath: String): DataFrame = {
    // before any micro-batch has committed there is no assigned/ dir —
    // return the empty frame (same graceful no-state handling as the
    // labels branch below) instead of a path-not-found AnalysisException
    val (fs, assignedPath) = graft.store.Fs.pathFs(spark, s"$statePath/assigned")
    if (!fs.exists(assignedPath))
      return spark.range(0).select(col("id").as("vec_id"),
        col("id").as("component"), lit(1).as("kept"))
    val ids = spark.read.parquet(s"$statePath/assigned")
      .select(col("id").cast("long").as("vec_id")).distinct()
    val labels = graft.store.VersionedLayout.currentDir(spark, s"$statePath/labels") match {
      case Some(dir) => spark.read.parquet(dir)
      case None => ids.select(col("vec_id"), col("vec_id").as("component")).limit(0)
    }
    ids.join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("component"))
      .withColumn("kept", (col("vec_id") === col("component")).cast("int"))
      .orderBy("vec_id")
  }

  /** Streaming LSH ingest — the assign-only micro-batch twin for the
    * sign-LSH inverted-list layout, completing the per-family streaming
    * coverage (IVF has [[ingestWithIvfAssign]], HNSW has
    * [[ingestWithHnswDelta]]): each batch buckets under the layout's OWN
    * sidecar model ((seed, mean) — loaded once, driver-side) and APPENDS
    * its layout rows to the same (table, bucket) dirs
    * ([[graft.index.LshAnn.appendBucketed]]), so stored serving picks new
    * rows up with no rebuild and UNCHANGED candidate semantics (the probe
    * predicate is a pure function of the model). Mean drift is a
    * maintenance decision ([[graft.index.LshAnn.maintainBucketed]]:
    * drift → recentered rebuild), not a per-batch cost;
    * appended small files fold via [[graft.index.LshAnn.compactBucketed]]
    * — both proven content-preserving in StreamingSpec.
    *
    * STREAM-AUTHOR CONTRACT (inherited from
    * [[graft.index.LshAnn.appendBucketed]]): every id the stream emits
    * must be NEW to the layout. Re-emitting an id with a changed vector
    * leaves both versions serving (max-sim winner per query) — updates
    * are a rebuild, not an append. A stream that cannot guarantee
    * exactly-once ids (e.g. a source replaying without checkpoints)
    * should run with `spark.graft.lsh.validateAppendIds=true` in
    * staging, which fail-louds the first collision per batch. */
  def ingestWithLshAssign(stream: DataFrame, layoutPath: String,
      checkpoint: String, vecCol: String = "vector", idCol: String = "id")
      : StreamingQuery = {
    val spark = stream.sparkSession
    val model = graft.index.LshAnn.loadTables(spark, layoutPath)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.index.LshAnn.appendBucketed(batch, layoutPath, model,
          vecCol, idCol)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Append-time sequence packing — the streaming twin of the export
    * stage ([[graft.operators.SeqPack]]): each micro-batch packs in the
    * canonical per-epoch (shard, h, id) order and lands AFTER the tokens
    * already packed, so previously assigned window ids are STABLE (the
    * layout only appends, never rewrites — an incremental corpus keeps
    * its training manifest valid across arrivals). The grown layout
    * equals [[graft.operators.SeqPack.packEpochs]] over the epoch-tagged
    * union (StreamingSpec-gated).
    *
    * The only cross-batch state is ONE long (the running token total),
    * kept in a `_graft_pack_total` sidecar beside the layout and
    * re-derivable from the layout itself (max(start + n)) if the sidecar
    * is lost — so the path has no driver-resident state at all between
    * restarts. */
  def packIngest(stream: DataFrame, layoutPath: String, checkpoint: String,
      cap: Int, idCol: String = "doc_id", nTokensCol: String = "n_tokens",
      shards: Int = 32): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        packAppendBatch(batch, layoutPath, cap, idCol, nTokensCol, shards,
          batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming token-shard export — the BINARY twin of [[packIngest]]:
    * micro-batches of documents land directly as trainer-consumable
    * `.bin`/`.idx` shard sets ([[graft.operators.TokenShards]]).
    *
    * EPOCH-ALIGNED by design: each batch exports a SELF-CONTAINED shard
    * set under `batch=<id>` (windows 0..n−1 within the batch, the final
    * window padded) and records its global window base in a per-batch
    * manifest marker — the per-dataset shard convention trainers already
    * consume (per-dataset pad tails). Earlier batches' bytes are NEVER
    * rewritten — the property that makes the layout append-only — which
    * is exactly why this twin pads at batch boundaries where the OFFSET
    * manifest twin ([[packIngest]]) packs straight through: continuing a
    * partially-filled binary window would mean rewriting a committed
    * `.bin` tail on every arrival.
    *
    * Idempotent under foreachBatch's at-least-once replay like the pack
    * twin: a replayed committed id is a no-op (state guard), a replay
    * after a crash mid-batch rewrites the same dir (the writer deletes
    * it first), and the (lastId, window total) state self-heals from the
    * per-batch end markers if the sidecars are lost. */
  def shardIngest(stream: DataFrame, layoutPath: String, checkpoint: String,
      cap: Int, numFiles: Int = 4): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        shardAppendBatch(batch, layoutPath, cap, numFiles, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  private val ShardStateFile = "_graft_shard_state"
  private[graft] val ShardFirstSeqFile = "_graft_first_seq"
  private val ShardEndFile = "_graft_batch_end"
  private[graft] val ShardManifestFile = "_graft_shard_manifest"

  private[graft] def shardAppendBatch(batch: DataFrame, layoutPath: String,
      cap: Int, numFiles: Int, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val (lastId, baseSeqs) = readShardState(spark, layoutPath)
    if (batchId <= lastId) return // replay of an already-committed batch
    val dir = s"$layoutPath/batch=$batchId"
    val (_, nSeqs, _) = graft.operators.TokenShards.write(
      batch, "doc_id", "text", cap, 32, numFiles, dir)
    // per-batch manifest (base, end) BEFORE the layout-level state: a
    // crash between the two leaves a provably-complete batch the heal
    // counts
    writeLongFile(spark, s"$dir/$ShardFirstSeqFile", baseSeqs)
    writeLongFile(spark, s"$dir/$ShardEndFile", baseSeqs + nSeqs)
    // compacted manifest BEFORE the state record: a crash after the
    // manifest leaves state at batchId−1, so the replay rewrites this
    // batch and the manifest dedups its line — readers meanwhile serve
    // the (complete, marker-proven) batch exactly as the heal path would
    appendShardManifest(spark, layoutPath, batchId, baseSeqs,
      baseSeqs + nSeqs)
    // layout-level state is ONE atomic record ("<batchId> <total>", the
    // [[writePackState]] protocol): (lastId, total) written as two files
    // would leave a crash window where a parseable-but-mismatched pair
    // (lastId=N, total=end(N−1)) skips batch N's replay and bases N+1
    // over N's global window range
    writePairFile(spark, s"$layoutPath/$ShardStateFile", batchId,
      baseSeqs + nSeqs)
  }

  /** The compacted batch manifest: one `<batchId> <firstSeq> <end>` text
    * line per committed batch, rewritten whole by the DRIVER on every
    * commit (a year of hourly batches is ~9k lines ≈ 200 KB — one small
    * sidecar write per batch) and read by every resolve in TWO
    * round-trips (manifest + state record) instead of a root listing
    * plus two marker reads per batch dir — ~18k object-store round-trips
    * per point-read resolve on that same year. The per-batch markers
    * REMAIN the ground truth the manifest compacts: a torn manifest
    * (crashed mid-write) fails the strict parse and reads as ABSENT, so
    * readers fall back to the marker walk; a parseable manifest whose
    * windows are non-cumulative is real corruption, not a torn write,
    * and fails loudly. Returns None for absent/torn. */
  private[graft] def readShardManifest(spark: SparkSession,
      layoutPath: String): Option[Seq[(Long, Long, Long)]] = {
    val txt = graft.store.Fs.readSidecar(
      spark, s"$layoutPath/$ShardManifestFile").getOrElse(return None)
    val lines = txt.split("\n").filter(_.nonEmpty)
    val parsed = lines.map { l =>
      graft.store.Fs.parseLongs(l, 3).map(s => (s(0), s(1), s(2)))
    }
    if (parsed.exists(_.isEmpty)) return None // torn write → marker walk
    val entries = parsed.flatten.toSeq
    entries.sliding(2).foreach {
      case Seq((ia, _, enda), (ib, firstb, _)) =>
        require(ia < ib && firstb == enda,
          s"$layoutPath/$ShardManifestFile: non-cumulative manifest " +
            s"(batch $ia ends at $enda, batch $ib starts at $firstb) — " +
            "the layout was rewritten underneath its manifest; delete " +
            "the manifest to heal from the per-batch markers")
      case _ => ()
    }
    Some(entries)
  }

  /** Advance the compacted manifest with `batchId`'s line. A missing or
    * torn prior manifest rebuilds from the marker walk — which is also
    * the MIGRATION path: a layout written before the manifest existed
    * compacts its whole history on its first new-code commit. Replayed
    * ids dedup (any line at or past `batchId` is dropped before the
    * append). */
  private def appendShardManifest(spark: SparkSession, layoutPath: String,
      batchId: Long, first: Long, end: Long): Unit = {
    val prior = readShardManifest(spark, layoutPath)
      .map(_.filter(_._1 < batchId))
      .getOrElse(completeShardBatchesByWalk(spark, layoutPath, Long.MinValue)
        .collect { case (id, _, f, e) if id < batchId => (id, f, e) })
    graft.store.Fs.writeSidecar(spark, s"$layoutPath/$ShardManifestFile",
      (prior :+ ((batchId, first, end)))
        .map { case (id, f, e) => s"$id $f $e" }.mkString("", "\n", "\n"))
  }

  /** (lastBatchId, global window total) of a shard layout: the atomic
    * state sidecar when present and parseable, else healed from the
    * per-batch end markers (ends are cumulative, so the max complete
    * batch's end IS the total; a batch dir missing its markers is
    * incomplete and a replay rewrites it), else (−1, 0) for a fresh
    * layout. A torn sidecar (crash between create and write) fails the
    * exact-two-longs parse and reads as absent. */
  private[graft] def readShardState(spark: SparkSession,
      layoutPath: String): (Long, Long) =
    readPairFile(spark, s"$layoutPath/$ShardStateFile").getOrElse {
      completeShardBatches(spark, layoutPath).lastOption
        .map { case (id, _, _, end) => (id, end) }
        .getOrElse((-1L, 0L))
    }

  /** Complete batches of a shard layout in id order:
    * (batchId, dir, firstSeq, end). Resolution order: the compacted
    * manifest covers its entries with NO per-batch I/O, and when the
    * atomic state record confirms the manifest head is the newest commit
    * (the steady state) the whole resolve is two sidecar reads — no root
    * listing at all. A state record AHEAD of the manifest (or absent)
    * walks only the uncompacted tail; an absent/torn manifest falls back
    * to the full marker walk (pre-manifest layouts, torn writes). */
  private[graft] def completeShardBatches(spark: SparkSession,
      layoutPath: String): Seq[(Long, String, Long, Long)] =
    readShardManifest(spark, layoutPath) match {
      case Some(entries) if entries.nonEmpty =>
        val compacted = entries.map { case (id, first, end) =>
          (id, s"$layoutPath/batch=$id", first, end)
        }
        val lastId = entries.last._1
        readPairFile(spark, s"$layoutPath/$ShardStateFile") match {
          case Some((sid, _)) if sid == lastId => compacted
          case _ => compacted ++
            completeShardBatchesByWalk(spark, layoutPath, lastId)
        }
      case _ => completeShardBatchesByWalk(spark, layoutPath, Long.MinValue)
    }

  /** The marker walk: list the root, read both markers of every batch
    * dir with id > `minId` — the pre-manifest resolve, kept as the
    * ground-truth heal path and the uncompacted-tail scan. */
  private def completeShardBatchesByWalk(spark: SparkSession,
      layoutPath: String, minId: Long): Seq[(Long, String, Long, Long)] = {
    val (fs, root) = graft.store.Fs.pathFs(spark, layoutPath)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("batch="))
      .flatMap { d =>
        val id = d.getName.stripPrefix("batch=").toLong
        if (id <= minId) None
        else for {
          first <- readLongFile(spark, s"$d/$ShardFirstSeqFile")
          end <- readLongFile(spark, s"$d/$ShardEndFile")
          // dir rooted at the CALLER'S layoutPath (not the listing's
          // scheme-qualified Path.toString), so the walk and the
          // manifest resolve to identical entries
        } yield (id, s"$layoutPath/${d.getName}", first, end)
      }
      .sortBy(_._1).toSeq
  }

  /** Point-read a GLOBAL window of the grown shard layout: resolve the
    * owning batch through the manifest markers, then the batch-local
    * [[graft.operators.TokenShards.readWindow]] — one marker lookup +
    * one idx header + one ranged read. */
  def readGlobalWindow(spark: SparkSession, layoutPath: String,
      gseq: Long): Array[Int] = {
    val batches = completeShardBatches(spark, layoutPath)
    val owner = batches.find(b => gseq >= b._3 && gseq < b._4)
      .getOrElse(throw new IllegalArgumentException(
        s"window $gseq outside the grown layout " +
          s"(total ${batches.lastOption.map(_._4).getOrElse(0L)})"))
    graft.operators.TokenShards.readWindow(spark, owner._2, gseq - owner._3)
  }

  /** Batched [[readGlobalWindow]] — the loader-step shape over the GROWN
    * layout: one manifest listing for the whole batch, requests grouped
    * by owning ingest batch, each group served by the shard layer's own
    * batched reader ([[graft.operators.TokenShards.readWindows]]: one
    * idx read + one open stream per touched shard file). Requested
    * order preserved. */
  def readGlobalWindows(spark: SparkSession, layoutPath: String,
      gseqs: Seq[Long]): Seq[Array[Int]] = {
    if (gseqs.isEmpty) return Nil
    val batches = completeShardBatches(spark, layoutPath)
    val total = batches.lastOption.map(_._4).getOrElse(0L)
    def owner(g: Long) = batches.find(b => g >= b._3 && g < b._4)
      .getOrElse(throw new IllegalArgumentException(
        s"window $g outside the grown layout (total $total)"))
    val got = scala.collection.mutable.Map.empty[Long, Array[Int]]
    gseqs.distinct.groupBy(owner).foreach { case ((_, dir, first, _), gs) =>
      val local = gs.map(_ - first)
      gs.zip(graft.operators.TokenShards.readWindows(spark, dir, local))
        .foreach { case (g, w) => got(g) = w }
    }
    gseqs.map(got)
  }

  private val PackTotalFile = "_graft_pack_total"

  /** Per-batch commit record written INSIDE `batch=<id>` after its data
    * job commits, carrying the batch's END token total. Two jobs: (1) a
    * completeness proof that does not depend on the Hadoop committer's
    * `_SUCCESS` marker (object-store deployments commonly run
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` — without
    * an engine-owned record a complete newest batch would be treated as
    * uncommitted and, when the streaming checkpoint survived the sidecar
    * loss, its tokens silently dropped from the running base); (2) a
    * tail cross-check — the dir counts as complete only if its
    * max(start+n) equals the recorded end, so a tail file lost from an
    * interrupted commit can't masquerade as a shorter-but-complete
    * batch. Underscore-prefixed, so parquet readers ignore it. */
  private val PackBatchEndFile = "_graft_batch_end"

  /** One micro-batch of the pack — IDEMPOTENT under foreachBatch's
    * at-least-once replay contract:
    *
    *  - each batch lands in its own `batch=<id>` partition dir with
    *    OVERWRITE semantics, so a replayed batch rewrites the same dir
    *    with the identical (deterministic) rows instead of appending
    *    duplicates at shifted bases;
    *  - the sidecar records (lastBatchId, total); a replay whose id is
    *    already recorded skips entirely, and a replay after a crash
    *    between the data write and the sidecar write recomputes from the
    *    PRE-batch total (the sidecar still holds it) and overwrites the
    *    partial dir — same rows, then the sidecar commit. */
  private[graft] def packAppendBatch(batch: DataFrame, layoutPath: String,
      cap: Int, idCol: String, nTokensCol: String, shards: Int,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val (lastId, base) = readPackState(spark, layoutPath)
    if (batchId <= lastId) return // replay of an already-committed batch
    val packed = graft.operators.SeqPack.packFrom(
      batch, idCol, org.apache.spark.sql.functions.col(nTokensCol), cap,
      base, shards)
    packed.write.mode("overwrite").parquet(s"$layoutPath/batch=$batchId")
    val batchTokens = batch.agg(
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col(nTokensCol).cast("long")),
        org.apache.spark.sql.functions.lit(0L))).head.getLong(0)
    // engine-owned commit record (see [[PackBatchEndFile]]) — written
    // after the data job commits, before the sidecar: a crash between the
    // two leaves a provably-complete dir that the self-heal counts
    writeLongFile(spark, s"$layoutPath/batch=$batchId/$PackBatchEndFile",
      base + batchTokens)
    writePackState(spark, layoutPath, batchId, base + batchTokens)
  }

  private def writeLongFile(spark: SparkSession, path: String, v: Long): Unit = {
    val (fs, p) = graft.store.Fs.pathFs(spark, path)
    val out = fs.create(p, true)
    try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
  }

  private def readLongFile(spark: SparkSession, path: String): Option[Long] = {
    val (fs, p) = graft.store.Fs.pathFs(spark, path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      // a crash between create() and write() leaves a visible EMPTY (or
      // truncated) record — that is an UNPROVEN batch, not a wedged
      // stream: parse failures read as "no record" so the heal re-opens
      // the batch instead of throwing on every restart
      txt.toLongOption
    }
  }

  /** (lastBatchId, running token total) of a pack layout: the sidecar
    * when present, else re-derived from the layout (self-healing after a
    * lost sidecar), else (-1, 0) for a fresh layout.
    *
    * The self-heal trusts the newest visible `batch=N` dir only when the
    * dir is PROVABLY complete: its surviving rows must TILE the batch's
    * token range [base, end) — base + sum(n) over the dir equals the
    * batch end, where base is batch N−1's OWN commit record when it
    * survives (so a data-file loss inside an old batch cannot demote an
    * intact newest batch), else the prior batches' surviving row end —
    * AND the intended end is attested: by the engine's
    * [[PackBatchEndFile]] record when present (REQUIRED to match even if
    * `_SUCCESS` also exists — `_SUCCESS` says the job committed once,
    * not that every file still exists), else by `_SUCCESS` with the
    * tiling check alone (best effort; the record survives
    * `marksuccessfuljobs=false` deployments). The record equality
    * rejects a lost TAIL file; the sum identity rejects a lost MIDDLE
    * file, which leaves max(start+n) intact. A crash can leave `batch=N` visible but
    * partially committed (interrupted job commit, v2 committer); with
    * the sidecar also gone and neither proof holding, the heal claims
    * lastBatchId = N−1 with the total re-derived from the earlier batches
    * only, and the foreachBatch replay of N rewrites its dir completely
    * (the overwrite contract makes that idempotent: same deterministic
    * rows whether N was whole or partial). Complete → N counts as
    * committed, which matters when the STREAMING CHECKPOINT survived the
    * sidecar loss: the source will deliver N+1 next, never replaying N,
    * so claiming N−1 would permanently drop N's tokens from the running
    * base and pack N+1 over N's offsets. */
  private[graft] def readPackState(spark: SparkSession, layoutPath: String)
      : (Long, Long) = {
    val (fs, p) = graft.store.Fs.pathFs(spark, layoutPath)
    val sidecar = readPairFile(spark, s"$layoutPath/$PackTotalFile")
    if (sidecar.isDefined) {
      sidecar.get
    } else if (graft.store.Fs.exists(spark, layoutPath) &&
        graft.store.Fs.dataFileCount(spark, layoutPath) > 0) {
      import org.apache.spark.sql.functions._
      val layout = spark.read.parquet(layoutPath)
      val maxB = layout.agg(coalesce(max(col("batch").cast("long")), lit(-1L)))
        .head.getLong(0)
      // one pass: the newest batch's surviving end + token sum, and the
      // prior batches' surviving end
      val isNew = col("batch").cast("long") === maxB
      val st = layout.agg(
        coalesce(max(when(isNew, col("start") + col("n"))), lit(-1L)),
        coalesce(sum(when(isNew, col("n"))), lit(0L)),
        coalesce(max(when(!isNew, col("start") + col("n"))), lit(0L))).head
      val (dataEnd, sumN, priorRows) = (st.getLong(0), st.getLong(1), st.getLong(2))
      // the newest batch's pack BASE: the previous batch's own commit
      // record when it survives (so a data-file loss in an OLD batch —
      // someone else's corruption — cannot demote a provably-intact
      // newest batch), else the prior batches' surviving row end
      val base = (if (maxB > 0)
          readLongFile(spark, s"$layoutPath/batch=${maxB - 1}/$PackBatchEndFile")
        else None).getOrElse(priorRows)
      val expectedEnd = if (dataEnd == -1L) base else dataEnd // empty batch
      // COMPLETENESS = the batch's surviving rows TILE [base, end): a lost
      // MIDDLE file shrinks sum(n) but not max(start+n); a lost TAIL file
      // shrinks both but then max ≠ the recorded end. The engine record,
      // when present, is the STRONGER proof and is required to match even
      // if _SUCCESS also exists (_SUCCESS says the job committed, not that
      // every file still exists); _SUCCESS alone carries only the tiling
      // check (best effort — tail loss is then indistinguishable from a
      // shorter batch).
      val tiles = expectedEnd == base + sumN
      val newestComplete = readLongFile(
          spark, s"$layoutPath/batch=$maxB/$PackBatchEndFile") match {
        case Some(rec) => rec == expectedEnd && tiles
        case None => tiles && fs.exists(new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(p, s"batch=$maxB"), "_SUCCESS"))
      }
      if (newestComplete) (maxB, expectedEnd) else (maxB - 1, priorRows)
    } else (-1L, 0L)
  }

  /** Running token total (compatibility accessor — see [[readPackState]]). */
  private[graft] def readPackTotal(spark: SparkSession, layoutPath: String): Long =
    readPackState(spark, layoutPath)._2

  private def writePackState(spark: SparkSession, layoutPath: String,
      batchId: Long, total: Long): Unit =
    writePairFile(spark, s"$layoutPath/$PackTotalFile", batchId, total)

  /** ONE-record state sidecar: "<batchId> <total>" in a single file, so
    * the two values can never be observed torn relative to each other.
    * Shared by the pack and shard ingest twins. */
  private def writePairFile(spark: SparkSession, path: String,
      batchId: Long, total: Long): Unit =
    graft.store.Fs.writeSidecar(spark, path, s"$batchId $total\n")

  /** Parse a pair sidecar; a torn record reads as absent
    * ([[graft.store.Fs.parseLongs]]), falling through to the caller's
    * data-derived self-heal instead of wedging every restart. */
  private def readPairFile(spark: SparkSession,
      path: String): Option[(Long, Long)] =
    graft.store.Fs.readSidecar(spark, path)
      .flatMap(graft.store.Fs.parseLongs(_, 2))
      .map { case Seq(id, tot) => (id, tot) }

  /** File-count-triggered compaction of the streaming semantic state —
    * the maintenance loop that closes what [[semanticDedupIngest]] opens:
    * every micro-batch APPENDS one file per touched cluster partition to
    * `assigned/` and `probed/` (the probed dir at nProbes× the byte
    * rate), so file counts grow linearly with batches until scan planning
    * drowns in file metadata — the first operational pain at real ingest
    * rates. Both dirs are cluster-partitioned layouts, so
    * [[graft.index.Ivf.compactClustered]] applies verbatim: one read +
    * one cluster repartition + one write-beside-and-swap folds every
    * partition back to one file. Content-preserving (same rows, same
    * layout contract), so pair discovery and keeper serving are unchanged
    * — StreamingSpec proves both across a compaction, plus the file-count
    * bound and the below-threshold no-op. Run between micro-batches
    * (writer quiescence), single-writer like every maintenance pass.
    * Returns the dirs compacted. */
  def compactSemanticState(spark: SparkSession, statePath: String,
      maxFilesPerDir: Int = 64): Seq[String] =
    Seq("assigned", "probed").filter { sub =>
      val p = s"$statePath/$sub"
      graft.store.Fs.exists(spark, p) &&
        dataFileCount(spark, p) > maxFilesPerDir && {
          graft.index.Ivf.compactClustered(spark, p)
          true
        }
    }

  /** Roll-up compaction of a `batch=<id>`-partitioned state dir — the
    * maintenance pass the incremental twins' scaladocs promise ("a
    * production deployment compacts `grams/` periodically"): every batch
    * EXCEPT the newest folds into one partition via `fold` (per-gram
    * count re-aggregation for count states, identity/coalesce for
    * append-only hash/signature states), the newest batch partition is
    * carried unchanged because it is foreachBatch's only possible replay
    * target — a replay overwrites its own partition, which must
    * therefore still exist under its own id. The folded rows land under
    * the highest FOLDED id, so every future `batch <= id` cumulative
    * read (ids only grow) sees identical contents over linearly fewer
    * files/partitions.
    *
    * Crash safety rides [[graft.index.Ivf.rewriteSwapped]] (write the
    * complete replacement beside, two renames, self-repairing leftovers);
    * same operational contract as [[compactSemanticState]]: run between
    * micro-batches, single writer. Returns false when there is nothing
    * to fold (fewer than `minBatches` batch partitions).
    *
    * CONTRACT: after the first compaction `batch` is a REPLAY/cumulative
    * key, not arrival provenance — folded rows land under the highest
    * folded id, so "which micro-batch did this row arrive in" is
    * unanswerable for compacted history (only `batch <= id` cumulative
    * reads, which is all the ingest twins do, are preserved). A consumer
    * that needs arrival attribution must carry the arrival batch as a
    * DATA column before ever compacting; none of the shipped states do,
    * by design. */
  /** Guarded idempotent per-batch overwrite into `dir/batch=<id>` — the
    * single choke point every batch-partitioned state writer goes
    * through. [[compactBatchState]]'s contract makes `batch` a
    * replay/cumulative key after the first fold, so the newest existing
    * partition is the only legitimate replay target (foreachBatch
    * processes batch ids sequentially — a lower id can have no pending
    * commit once a higher partition exists): a write targeting any LOWER
    * existing id would overwrite a folded cumulative partial (data loss)
    * or re-land log rows the fold already carries (duplication). The
    * round-14 advice finding was that this was documented but
    * unenforced; enforced here at the cost of one directory listing per
    * micro-batch. The pre-v2 migration id `batch=-1` participates like
    * any other id. */
  private[graft] def writeBatchPartition(df: DataFrame, dir: String,
      batchId: Long): Unit = {
    maxBatchPartition(df.sparkSession, dir).foreach { maxB =>
      require(batchId >= maxB,
        s"batch $batchId is behind the newest state partition batch=$maxB " +
          s"under $dir: after compaction lower partitions hold folded " +
          "history, so a non-final replay would lose or duplicate it — " +
          "only the newest batch is a legitimate replay target")
    }
    df.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
  }

  /** Highest `batch=<id>` partition under `dir`, if any — the replay
    * frontier [[writeBatchPartition]] guards against. */
  private[graft] def maxBatchPartition(spark: SparkSession,
      dir: String): Option[Long] = {
    val (fs, p) = graft.store.Fs.pathFs(spark, dir)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("batch=").toLong).toOption)
      .reduceOption(_ max _)
  }

  def compactBatchState(spark: SparkSession, path: String,
      fold: DataFrame => DataFrame = _.coalesce(1),
      minBatches: Int = 3): Boolean = {
    if (!graft.store.Fs.exists(spark, path) ||
        graft.store.Fs.dataFileCount(spark, path) == 0) return false
    val st = spark.read.parquet(path)
    val ids = st.select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    // floor of 2: one batch has nothing to fold, whatever the caller asked
    if (ids.length < math.max(minBatches, 2)) return false
    val maxB = ids.last
    val foldedId = ids.init.last
    graft.index.Ivf.rewriteSwapped(spark, path) { tmp =>
      fold(st.where(col("batch").cast("long") < maxB).drop("batch"))
        .write.parquet(s"$tmp/batch=$foldedId")
      st.where(col("batch").cast("long") === maxB).drop("batch")
        .write.parquet(s"$tmp/batch=$maxB")
    }
    true
  }

  /** [[compactBatchState]] over the bigram-rarity ingest's state: the
    * gram counts re-aggregate (sum over the folded batches — the
    * cumulative read is a sum anyway, so folding is exact), the frozen
    * score log folds file-wise. The per-batch gram scan is the growing
    * cost of [[bigramRarityIngest]]; after this pass it is one merged
    * table plus the newest batch. */
  def compactBigramState(spark: SparkSession, statePath: String): Seq[String] = {
    val did = Seq(
      s"$statePath/grams" -> compactBatchState(spark, s"$statePath/grams",
        d => d.groupBy("gram").agg(sum("n").as("n"))),
      s"$statePath/scores" -> compactBatchState(spark, s"$statePath/scores"))
    did.collect { case (p, true) => p }
  }

  /** [[compactBatchState]] over the image-phash ingest's state: hashes
    * and pairs are append-only logs, so both fold file-wise (identity
    * rows, fewer files). The minhash dedup state (`sig/`, `pairs/`) has
    * the same shape and composes the same way. */
  def compactPhashState(spark: SparkSession, statePath: String): Seq[String] = {
    val did = Seq(
      s"$statePath/hash" -> compactBatchState(spark, s"$statePath/hash"),
      s"$statePath/pairs" -> compactBatchState(spark, s"$statePath/pairs"))
    did.collect { case (p, true) => p }
  }

  /** Parquet data files under a layout ([[graft.store.Fs.dataFileCount]])
    * — the compaction trigger statistic. */
  private[graft] def dataFileCount(spark: SparkSession, path: String): Int =
    graft.store.Fs.dataFileCount(spark, path)

  /** Per-user open-session state for [[sessionize]]. */
  case class SessionState(start: Long, last: Long, n: Long, cents: Long)

  /** A closed session (gap exceeded). */
  case class SessionOut(user_id: Long, session_start_ns: Long, n_events: Long,
      duration_ms: Long, sum_value_cents: Long)

  /** Stateful gap-based sessionization via flatMapGroupsWithState — the
    * custom-state streaming analog of AnalyticsQueries.eventsSessions
    * (session time in µs, matching the batch twin). A session closes (and
    * is emitted) when a later event proves a gap > gapUs; the open tail
    * session per user stays in state across micro-batches and is never
    * emitted (documented: equivalently, batch output minus each user's
    * final session). Assumes cross-batch event-time monotonicity per user
    * within gap tolerance — production would add a watermark +
    * EventTimeTimeout to close idle sessions. */
  def sessionize(events: DataFrame, gapUs: Long) = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), expr("ts div 1000").as("tsu"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (user, it, state) =>
        def close(s: SessionState) =
          SessionOut(user, s.start, s.n, (s.last - s.start) / 1000L, s.cents)
        val out = scala.collection.mutable.Buffer.empty[SessionOut]
        var cur = state.getOption
        it.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, ts, v) =>
          val cents = math.round(v * 100.0)
          cur match {
            case Some(s) if ts - s.last <= gapUs =>
              cur = Some(SessionState(s.start, math.max(s.last, ts), s.n + 1, s.cents + cents))
            case Some(s) =>
              out += close(s)
              cur = Some(SessionState(ts, ts, 1, cents))
            case None =>
              cur = Some(SessionState(ts, ts, 1, cents))
          }
        }
        cur.foreach(state.update)
        out.iterator
      }
  }
}
