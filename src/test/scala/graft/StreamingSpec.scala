package graft

import graft.queries.AnalyticsQueries
import graft.streaming.StreamingIngest

/** Structured-streaming ingest: the streaming hourly aggregation must equal
  * its batch twin, and foreachBatch append must land all rows. */
class StreamingSpec extends SparkSpec {

  /** Stage the events table for the file-stream source, with `ts` already
    * normalized to the internal nanos-LONG convention (the testdata's
    * stored timestamp encoding varies — see
    * [[graft.model.VectorModel.events]]); `copies` > 1 duplicates every
    * row across that many files/micro-batches. */
  private def eventsDir(copies: Int = 1): String = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_events").toString
    graft.model.VectorModel.events(spark, Sf0001)
      .coalesce(1).write.parquet(s"$dir/in")
    val in = java.nio.file.Paths.get(s"$dir/in")
    val part = java.nio.file.Files.list(in).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    (1 until copies).foreach(i =>
      java.nio.file.Files.copy(part, in.resolve(s"copy$i.parquet")))
    s"$dir/in"
  }

  test("streaming hourly aggregation equals the batch aggregation") {
    val dir = eventsDir()
    val agg = StreamingIngest.hourlyCounts(StreamingIngest.readEvents(spark, dir))
    val q = StreamingIngest.runToMemorySink(agg, "hourly_test")
    try {
      val streamed = spark.sql(
        "SELECT event_type, hour_epoch, n, sum_value_cents FROM hourly_test")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val batch = AnalyticsQueries.eventsHourlyAgg(spark, Sf0001)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("stateful sessionization carries state across micro-batches and matches the batch twin") {
    import org.apache.spark.sql.functions._
    // two time-ordered files => two micro-batches; per-user order preserved
    val dir = java.nio.file.Files.createTempDirectory("graft_sess").toString
    val all = graft.model.VectorModel.events(spark, Sf0001).orderBy("ts")
    val n = all.count()
    all.limit((n / 2).toInt).coalesce(1).write.parquet(s"$dir/in/b0")
    all.orderBy(col("ts").desc).limit((n - n / 2).toInt)
      .coalesce(1).write.parquet(s"$dir/in/b1")
    val stream = spark.readStream.schema(StreamingIngest.EventsSchema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$dir/in")
    val q = StreamingIngest
      .sessionize(stream, graft.queries.AnalyticsQueries.SessionGapUs)
      .writeStream.outputMode("append").format("memory").queryName("sess_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, n_events, duration_ms, sum_value_cents FROM sess_test")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      // batch twin minus each user's final (still-open) session
      val batch = graft.queries.AnalyticsQueries.eventsSessions(spark, Sf0001)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      val expected = batch
        .withColumn("max_sid", max("session_id").over(w))
        .where(col("session_id") =!= col("max_sid"))
        .select("user_id", "n_events", "duration_ms", "sum_value_cents")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      assert(streamed === expected)
      assert(streamed.nonEmpty, "expected at least one closed session")
    } finally q.stop()
  }

  test("streaming ingest with IVF refresh: the index covers all ingested rows") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_ivfstream").toString
    // two batches of vector rows derived from lineitem
    val vecs = graft.model.VectorModel.lineitemVectors(spark, Sf0001)
      .select("id", "vector").orderBy("id").limit(400).cache()
    vecs.limit(200).coalesce(1).write.parquet(s"$base/in/b0")
    vecs.orderBy(col("id").desc).limit(200).coalesce(1).write.parquet(s"$base/in/b1")
    val stream = spark.readStream
      .schema(vecs.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$base/in")
    val q = StreamingIngest.ingestWithIvfRefresh(stream,
      s"$base/table", s"$base/index", s"$base/ckpt", "vector", "id")
    try {
      q.awaitTermination(120000)
      val indexed = spark.read.parquet(s"$base/index")
      assert(indexed.count() === 400, "index must cover both micro-batches")
      assert(indexed.select("cluster_id").distinct().count() === 4)
      // the refreshed clustered layout answers searches over all rows
      val ids = indexed.select("id").collect().map(_.getLong(0)).toSet
      assert(ids === vecs.collect().map(_.getLong(0)).toSet)
    } finally q.stop()
  }

  test("automated IVF maintenance: stream drifts past the threshold -> refit + compacted rewrite, results equal a fresh build") {
    import org.apache.spark.sql.functions._
    import graft.index.Ivf
    val base = java.nio.file.Files.createTempDirectory("graft_ivfmaint").toString
    val dim = 4
    def mk(ids: Range, center: Double) = spark.createDataFrame(
      ids.map(i => (i.toLong, Seq.tabulate(dim)(d => center + (i % 7) * 0.1 + d * 0.01))))
      .toDF("id", "vector")
    // deployed model fit on the historical distribution around 1.0
    val historical = mk(0 until 200, 1.0)
    val (_, model0) = Ivf.fit(historical, k = 4)
    Ivf.saveClustered(Ivf.assign(historical, model0), s"$base/index")
    // stream in a DRIFTED batch (around 9.0) under the existing centroids
    // — the ingestWithIvfAssign contract (assign-only, append)
    val drifted = mk(200 until 400, 9.0)
    val q = StreamingIngest.ingestWithIvfAssign(
      spark.readStream.schema(drifted.schema)
        .option("recursiveFileLookup", "true").parquet({
          drifted.coalesce(1).write.parquet(s"$base/in/b0"); s"$base/in"
        }),
      s"$base/index", s"$base/ckpt", "vector", model0)
    try q.awaitTermination(120000) finally q.stop()
    val layout = spark.read.parquet(s"$base/index")
    assert(layout.count() === 400)
    val driftBefore = Ivf.meanAssignmentDistance(layout, model0)
    // below threshold: no-op, same model, layout untouched
    val files0 = layout.inputFiles.toSet
    val (same, refitted0) = Ivf.maintainClustered(spark, s"$base/index", model0,
      driftThreshold = driftBefore + 1.0, k = 4)
    assert(!refitted0 && (same eq model0))
    assert(spark.read.parquet(s"$base/index").inputFiles.toSet === files0)
    // above threshold: refit + swap; drift drops, small files fold away
    val (model1, refitted1) = Ivf.maintainClustered(spark, s"$base/index", model0,
      driftThreshold = driftBefore / 2, k = 4)
    assert(refitted1)
    val maintained = spark.read.parquet(s"$base/index")
    assert(maintained.count() === 400, "maintenance must not lose rows")
    assert(Ivf.meanAssignmentDistance(maintained, model1) < driftBefore,
      "refit must reduce the drift signal")
    // the maintained index equals a FRESH seeded build over the same rows:
    // same centroids, same assignments, identical search results
    val (freshAssigned, freshModel) = Ivf.fit(historical.union(drifted), k = 4)
    assert(model1.centroids.map(_.toSeq).toSeq === freshModel.centroids.map(_.toSeq).toSeq)
    val query = Seq.fill(dim)(9.0)
    val served = Ivf.search(maintained, model1, query, 10, Ivf.defaultRule(model1))
      .select("id", "sim").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fresh = Ivf.search(freshAssigned, freshModel, query, 10, Ivf.defaultRule(freshModel))
      .select("id", "sim").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served === fresh, "maintained index must serve identically to a fresh build")
  }

  test("versioned layout: publish keeps readers' snapshot live, prunes to last 2, survives a crashed write") {
    import org.apache.spark.sql.functions._
    import graft.index.Ivf
    import graft.store.VersionedLayout
    val root = java.nio.file.Files.createTempDirectory("graft_vlayout").toString + "/idx"
    val dim = 4
    def mk(ids: Range, center: Double) = spark.createDataFrame(
      ids.map(i => (i.toLong, Seq.tabulate(dim)(d => center + (i % 7) * 0.1 + d * 0.01))))
      .toDF("id", "vector")
    val gen0 = mk(0 until 150, 1.0)
    val (_, model0) = Ivf.fit(gen0, k = 4)
    val v0 = Ivf.saveClusteredVersioned(Ivf.assign(gen0, model0), root)
    assert(VersionedLayout.currentDir(spark, root) === Some(v0))
    // a reader resolves v0, then a publish lands v1: the reader's snapshot
    // still collects (grace version retained), new readers see v1
    val readerOnV0 = Ivf.currentClustered(spark, root)
    val gen1 = mk(0 until 300, 1.0)
    val v1 = Ivf.saveClusteredVersioned(Ivf.assign(gen1, model0), root)
    assert(v1 != v0 && VersionedLayout.currentDir(spark, root) === Some(v1))
    assert(readerOnV0.count() === 150, "in-flight reader keeps its snapshot")
    assert(Ivf.currentClustered(spark, root).count() === 300)
    // a crashed publish (partial dir, no marker) never becomes live and is
    // cleaned by the next publish
    val (fs, rp) = graft.store.Fs.pathFs(spark, s"$root/v99999")
    fs.mkdirs(rp)
    assert(VersionedLayout.currentDir(spark, root) === Some(v1))
    val gen2 = mk(0 until 300, 9.0)
    val v2 = Ivf.saveClusteredVersioned(Ivf.assign(gen2, model0), root)
    assert(!fs.exists(rp), "uncommitted leftover must be swept by the next publish")
    // keep-2 pruning: v0 is gone, v1 (grace) + v2 (live) remain
    val (fs2, rootP) = graft.store.Fs.pathFs(spark, root)
    val dirs = fs2.listStatus(rootP).map(_.getPath.getName).filter(_.startsWith("v")).sorted
    assert(!dirs.contains(v0.split("/").last) && dirs.length === 2, dirs.mkString(","))
    // versioned maintenance: drift on the shifted live version -> refit
    // publishes a NEW version; search over it equals a fresh seeded build
    val drift = Ivf.meanAssignmentDistance(Ivf.currentClustered(spark, root), model0)
    val (model1, refitted) = Ivf.maintainClusteredVersioned(spark, root, model0,
      driftThreshold = drift / 2, k = 4)
    assert(refitted)
    val (freshAssigned, freshModel) = Ivf.fit(gen2, k = 4)
    assert(model1.centroids.map(_.toSeq).toSeq === freshModel.centroids.map(_.toSeq).toSeq)
    val query = Seq.fill(dim)(9.0)
    val served = Ivf.search(Ivf.currentClustered(spark, root), model1, query, 10,
      Ivf.defaultRule(model1))
      .select("id", "sim").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fresh = Ivf.search(freshAssigned, freshModel, query, 10, Ivf.defaultRule(freshModel))
      .select("id", "sim").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served === fresh)
  }

  test("versioned layout: concurrent publish fails loudly; winner commits; lock releases") {
    import graft.store.VersionedLayout
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val root = java.nio.file.Files.createTempDirectory("graft_vlock").toString + "/idx"
    def writeDir(dir: String): Unit = {
      val (fs, p) = graft.store.Fs.pathFs(spark, dir); fs.mkdirs(p); ()
    }
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val winner = new java.util.concurrent.atomic.AtomicReference[String]()
    val holder = new Thread(() =>
      winner.set(VersionedLayout.publish(spark, root) { dir =>
        entered.countDown()
        // hold the writer lock mid-write while the rival publish arrives
        assert(release.await(30, TimeUnit.SECONDS))
        writeDir(dir)
      }))
    holder.start()
    assert(entered.await(30, TimeUnit.SECONDS))
    // the rival must fail LOUDLY before its write function ever runs —
    // never interleave version numbering with the in-flight publish
    val e = intercept[IllegalStateException] {
      VersionedLayout.publish(spark, root)(_ =>
        fail("rival write ran while another publish held the lock"))
    }
    assert(e.getMessage.contains("writer lock"))
    // currentDir never dangles: nothing is committed while the first
    // publish is still writing
    assert(VersionedLayout.currentDir(spark, root).isEmpty)
    release.countDown()
    holder.join(30000)
    assert(VersionedLayout.currentDir(spark, root) === Some(winner.get),
      "the in-flight publish must commit untouched by the failed rival")
    // lock released on completion: the next publish proceeds as v+1
    val v1 = VersionedLayout.publish(spark, root)(writeDir)
    assert(v1 != winner.get && VersionedLayout.currentDir(spark, root) === Some(v1))
  }

  test("incremental IVF ingest: assign-only batches equal a batch assignment") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_ivfassign").toString
    val vecs = graft.model.VectorModel.lineitemVectors(spark, Sf0001)
      .select("id", "vector").orderBy("id").limit(400).cache()
    // fit once on the "historical" first half — the deployed model
    val (_, model) = graft.index.Ivf.fit(vecs.limit(200), k = 4)
    vecs.limit(200).coalesce(1).write.parquet(s"$base/in/b0")
    vecs.orderBy(col("id").desc).limit(200).coalesce(1).write.parquet(s"$base/in/b1")
    val stream = spark.readStream
      .schema(vecs.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$base/in")
    val q = StreamingIngest.ingestWithIvfAssign(stream,
      s"$base/index", s"$base/ckpt", "vector", model)
    try {
      q.awaitTermination(120000)
      val indexed = spark.read.parquet(s"$base/index")
      assert(indexed.count() === 400, "index must cover both micro-batches")
      // assign-only output is IDENTICAL to one batch assignment pass with
      // the same centroids — incremental maintenance loses nothing
      val streamed = indexed.select("id", "cluster_id").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      val batch = graft.index.Ivf.assign(vecs, model)
        .select("id", "cluster_id").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups ids across micro-batches") {
    // the same rows twice => every event is duplicated across two batches
    val dir = eventsDir(copies = 2)
    val stream = spark.readStream.schema(StreamingIngest.EventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = StreamingIngest.dedupStreamWithinWatermark(stream)
      .writeStream.outputMode("append").format("memory").queryName("ddww_test")
      .start()
    try {
      q.processAllAvailable()
      val n = spark.sql("SELECT count(DISTINCT event_id) FROM ddww_test").collect()(0).getLong(0)
      val total = spark.sql("SELECT count(*) FROM ddww_test").collect()(0).getLong(0)
      val expected = spark.read.parquet(s"$Sf0001/events.parquet").count()
      assert(n === expected)
      assert(total === expected, "each id must be emitted exactly once")
    } finally q.stop()
  }

  test("stream-stream incident join matches the batch range join pairs") {
    import org.apache.spark.sql.functions._
    val windowUs = graft.queries.AnalyticsQueries.IncidentWindowUs
    val dir = eventsDir()
    val stream = spark.readStream.schema(StreamingIngest.EventsSchema).parquet(dir)
    val q = StreamingIngest.incidentJoinStream(stream, windowUs)
      .writeStream.outputMode("append").format("memory").queryName("incident_join")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT error_id, event_id FROM incident_join")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val base = graft.model.VectorModel.events(spark, Sf0001)
      val events = base
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("tsu"))
      val incidents = base
        .where(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id").as("err_user"),
          expr("ts div 1000").as("lo"))
        .withColumn("hi", col("lo") + windowUs)
      val batch = graft.operators.RangeJoin.pointInInterval(
          events, incidents, "tsu", "lo", "hi", windowUs, Seq("user_id" -> "err_user"))
        .select("error_id", "event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup drops exact duplicate events across micro-batches") {
    // the same rows twice => every event is duplicated across two batches
    val dir = eventsDir(copies = 2)
    val stream = spark.readStream.schema(StreamingIngest.EventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = StreamingIngest.dedupStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("dedup_test")
      .start()
    try {
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM dedup_test").collect()(0).getLong(0)
      val expected = spark.read.parquet(s"$Sf0001/events.parquet").count()
      assert(n === expected, "each duplicated event must appear exactly once")
    } finally q.stop()
  }

  test("streaming curation filter equals the batch filter on the same docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_docs").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val q = StreamingIngest.curateDocStream(
      StreamingIngest.readDocuments(spark, dir))
      .writeStream.outputMode("append").format("memory").queryName("curate_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, lang, quality FROM curate_test")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sorted.toSeq
      val batch = graft.model.VectorModel.documents(spark, Sf0001)
        .where(graft.queries.PipelineQueries.curationFilter)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("lang"),
          org.apache.spark.sql.functions.round(
            graft.text.TextAnalysis.qualityScore(
              org.apache.spark.sql.functions.col("text")), 6).as("quality"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sorted.toSeq
      assert(got === batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming PII scrub equals the batch scrubber on the same docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_docs_pii").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val q = StreamingIngest.piiScrubStream(
      StreamingIngest.readDocuments(spark, dir))
      .writeStream.outputMode("append").format("memory").queryName("pii_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
          "SELECT doc_id, emails, phones, ips, clean_text FROM pii_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).sorted.toSeq
      val batch = StreamingIngest.piiScrubStream(
          graft.model.VectorModel.documents(spark, Sf0001))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).sorted.toSeq
      assert(got === batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming FFD pack: frozen prior assignments, grown state equals the epoch twin") {
    import org.apache.spark.sql.functions._
    val docs = graft.model.VectorModel.documents(spark, Sf0001)
    val base = java.nio.file.Files.createTempDirectory("graft_ffdstream").toString
    (0 until 3).foreach(i =>
      docs.where(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(s"$base/in"))
    val stream = spark.readStream
      .schema(StreamingIngest.DocumentsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
    val cap = 256
    val q = StreamingIngest.ffdIngest(stream, s"$base/state", s"$base/ckpt", cap)
    try q.awaitTermination(240000) finally q.stop()
    val state = spark.read.parquet(s"$base/state").cache()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n", "shard", "bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(state.count() === docs.count())
    // capacity holds CUMULATIVELY across batches — the frozen-bins
    // invariant that matters
    assert(state.groupBy("shard", "bin").agg(sum("n").as("fill"))
      .where(col("fill") > cap).count() === 0L,
      "a bin was filled past capacity across batches")
    // grown assignments == the epoch-ordered batch twin
    val epochOfDoc = state.select(col("doc_id"), col("batch").cast("long").as("e"))
    val twin = graft.operators.SeqPack.ffdEpochs(
      docs.join(epochOfDoc, "doc_id"), "doc_id",
      graft.text.TextAnalysis.tokenCount(col("text")), cap, col("e"))
    assert(rows(state) === rows(twin))
    // frozen prefix: batch-0 assignments are exactly the batch FFD over
    // batch-0 docs alone (the single-epoch degenerate)
    val b0ids = state.where(col("batch") === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val solo = graft.operators.SeqPack.ffdPack(
      docs.where(col("doc_id").isInCollection(b0ids)), "doc_id",
      graft.text.TextAnalysis.tokenCount(col("text")), cap)
    assert(rows(state.where(col("batch") === 0)) === rows(solo),
      "earlier batches' assignments must be frozen under later arrivals")
    // replay idempotence
    val lastB = state.agg(max(col("batch").cast("long"))).head.getLong(0)
    val lastIds = state.where(col("batch") === lastB)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val before = rows(state)
    state.unpersist()
    StreamingIngest.ffdIngestBatch(
      docs.where(col("doc_id").isInCollection(lastIds)), s"$base/state",
      cap, 32, lastB)
    assert(rows(spark.read.parquet(s"$base/state")) === before,
      "replay must not move or duplicate assignments")
    // and roll-up compaction preserves everything incl. the next append
    assert(StreamingIngest.compactBatchState(spark, s"$base/state"))
    assert(rows(spark.read.parquet(s"$base/state")) === before,
      "compaction must preserve the assignment log")
    StreamingIngest.ffdIngestBatch(
      docs.where(col("doc_id").isInCollection(lastIds)), s"$base/state",
      cap, 32, lastB)
    assert(rows(spark.read.parquet(s"$base/state")) === before,
      "replay after compaction must be identical")
    // the data-loss guard (round-14 advice): a NON-final replay id — here
    // the folded partition itself — must fail loudly BEFORE any write,
    // instead of overwriting folded history with one batch's rows
    val err = intercept[IllegalArgumentException] {
      StreamingIngest.ffdIngestBatch(
        docs.where(col("doc_id").isInCollection(lastIds)), s"$base/state",
        cap, 32, lastB - 1)
    }
    assert(err.getMessage.contains("newest state partition"))
    assert(rows(spark.read.parquet(s"$base/state")) === before,
      "the rejected replay must leave the state untouched")
  }

  test("streaming quality gate equals the batch scorer under the frozen model") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_docs_qg").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val docs = graft.model.VectorModel.documents(spark, Sf0001)
      .select("doc_id", "text")
    val model = graft.text.QualityModel.train(docs)
    val q = StreamingIngest.qualityGateStream(
        StreamingIngest.readDocuments(spark, dir), model)
      .writeStream.outputMode("append").format("memory").queryName("qg_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, logit, is_quality FROM qg_test")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      // batch scorer emits the rounded display column only through the
      // registered entry; compare against the library scorer directly
      val batch = graft.text.QualityModel.score(docs, model)
        .select(col("doc_id"), col("logit"), col("is_quality"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(got === batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming DSIR gate equals the batch decisions under the frozen model") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_docs_dg").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val docs = graft.model.VectorModel.documents(spark, Sf0001)
    val model = graft.text.Dsir.fit(docs,
      docs.where(col("source") === graft.queries.PipelineQueries.DsirTargetSource))
    val q = StreamingIngest.dsirGateStream(
        StreamingIngest.readDocuments(spark, dir), model)
      .writeStream.outputMode("append").format("memory").queryName("dg_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, z, level, kept FROM dg_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      val batch = graft.text.Dsir.decisions(docs, model)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(got === batch)
      assert(got.nonEmpty)
    } finally q.stop()
    // NULL-text parity (the stream transform is a plain per-row select,
    // so it applies to a batch frame directly): the batch path's explode
    // drops the row and the left join restores z=0 → kept at level 0;
    // the stream must coalesce to the same empty-product decision
    import spark.implicits._
    val withNull = Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    val sGot = StreamingIngest.dsirGateStream(withNull, model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val bGot = graft.text.Dsir.decisions(withNull, model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(sGot === bGot, "NULL/empty text must decide identically on both paths")
  }

  test("streaming LM gate equals batch scoring + the frozen-threshold compare") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_docs_lg").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val docs = graft.model.VectorModel.documents(spark, Sf0001)
    val model = graft.text.NgramLm.fit(
      docs.where(col("lang") === graft.queries.TextQueries.LmReferenceLang))
    // the frozen threshold: the pooled corpus micro-nats at train time
    val batchScores = graft.text.NgramLm.score(docs.select("doc_id", "text"), model)
    val thr = batchScores.where(col("n_bigrams") > 0)
      .agg(expr("sum(nll_q) div sum(n_bigrams)")).head.getLong(0)
    val q = StreamingIngest.lmGateStream(
        StreamingIngest.readDocuments(spark, dir), model, thr)
      .writeStream.outputMode("append").format("memory").queryName("lg_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, n_bigrams, nll_q, kept FROM lg_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      val batch = batchScores
        .withColumn("kept",
          when(col("n_bigrams") > 0 &&
            expr("nll_q div n_bigrams") < lit(thr), 1L).otherwise(0L))
        .select("doc_id", "n_bigrams", "nll_q", "kept")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(got === batch)
      assert(got.nonEmpty)
      assert(got.exists(_._4 == 1L) && got.exists(_._4 == 0L),
        "fixture must exercise both sides of the gate")
    } finally q.stop()
    // NULL/empty/short text parity: empty-product (0, 0), never kept
    import spark.implicits._
    val withNull = Seq((1L, "alpha beta gamma"), (2L, null.asInstanceOf[String]),
      (3L, ""), (4L, "single")).toDF("doc_id", "text")
    val sGot = StreamingIngest.lmGateStream(withNull, model, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val bScore = graft.text.NgramLm.score(withNull, model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    sGot.zip(bScore).foreach { case ((id, n, z, kept), (bid, bn, bz)) =>
      assert(id == bid && n == bn && z == bz,
        s"doc $id: stream ($n,$z) vs batch ($bn,$bz)")
      if (n == 0L) assert(kept == 0L, s"no-evidence doc $id must not pass")
    }
  }

  test("streaming language ID equals the batch classifier under the frozen model") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_docs_li").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val docs = graft.model.VectorModel.documents(spark, Sf0001)
      .select("doc_id", "text")
    val model = graft.text.LangIdModel.train(
      graft.model.VectorModel.documents(spark, Sf0001))
    val q = StreamingIngest.langIdStream(
        StreamingIngest.readDocuments(spark, dir), model)
      .writeStream.outputMode("append").format("memory").queryName("li_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, lang, score FROM li_test")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      val batch = graft.text.LangIdModel.classify(docs, model)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(got === batch)
      assert(got.nonEmpty)
    } finally q.stop()
    // NULL/short-text parity: the batch left join coalesces to ('und', 0)
    import spark.implicits._
    val withNull = Seq((1L, "alpha beta gamma delta"),
      (2L, null.asInstanceOf[String]), (3L, ""), (4L, "ab")).toDF("doc_id", "text")
    val sGot = StreamingIngest.langIdStream(withNull, model)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val bGot = graft.text.LangIdModel.classify(withNull, model)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(sGot === bGot, "NULL/short text must classify identically on both paths")
  }

  test("foreachBatch append ingest lands every row") {
    val dir = eventsDir()
    val target = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val q = StreamingIngest.ingestAppend(
      StreamingIngest.readEvents(spark, dir),
      s"$target/table", s"$target/ckpt")
    q.awaitTermination(60000)
    val n = spark.read.parquet(s"$target/table").count()
    val expected = spark.read.parquet(s"$Sf0001/events.parquet").count()
    assert(n === expected)
  }

  test("clustered-layout compaction preserves rows and folds small files") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val rng = new java.util.Random(3)
    val rows = (0 until 60).map(i => (i.toLong, Seq.fill(8)(rng.nextDouble())))
    val df = spark.createDataFrame(rows).toDF("id", "vector")
    val (_, model) = graft.index.Ivf.fit(df, k = 4)
    // five tiny appends = the streaming sink's small-file accumulation
    (0 until 5).foreach { b =>
      graft.index.Ivf.assign(df.where(col("id") % 5 === b), model)
        .write.mode("append").partitionBy("cluster_id").parquet(s"$dir/idx")
    }
    def parquetFiles: Int = {
      def walk(f: java.io.File): Iterator[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
        else Iterator(f)
      walk(new java.io.File(s"$dir/idx")).count(_.getName.endsWith(".parquet"))
    }
    def contents: Set[(Long, Int)] = spark.read.parquet(s"$dir/idx")
      .select(col("id"), col("cluster_id").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val (filesBefore, rowsBefore) = (parquetFiles, contents)
    graft.index.Ivf.compactClustered(spark, s"$dir/idx")
    assert(parquetFiles < filesBefore, s"expected fewer files than $filesBefore")
    assert(contents === rowsBefore)
    assert(rowsBefore.size === 60)
    // crash recovery: simulate dying between the two swap renames (live
    // path gone, original parked at _old, half-baked tmp left behind) —
    // the next invocation must restore and recompact, losing nothing
    val fs = new java.io.File(s"$dir/idx")
    assert(fs.renameTo(new java.io.File(s"$dir/idx._compact_old")))
    new java.io.File(s"$dir/idx._compact_tmp").mkdirs()
    graft.index.Ivf.compactClustered(spark, s"$dir/idx")
    assert(contents === rowsBefore)
  }

  test("streaming chunking equals the batch chunk operator on the same docs") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk_stream").toString
    val src = java.nio.file.Paths.get(s"$Sf0001/documents.parquet")
    java.nio.file.Files.copy(src, java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val stream = StreamingIngest.chunkDocStream(
      StreamingIngest.readDocuments(spark, dir))
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("chunk_stream_test").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, chunk_ix, chunk FROM chunk_stream_test")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
      val batch = graft.queries.TextQueries.chunks(spark, Sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1).toInt, r.getString(2))).sorted.toSeq
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("HNSW delta maintenance: past the fraction threshold -> versioned rebuild identical to a fresh build") {
    import org.apache.spark.sql.functions._
    import graft.index.HnswStore
    val dim = 8
    val rng = new java.util.Random(13)
    val base = (0 until 100).map(i => (i.toLong, Seq.fill(dim)(rng.nextDouble() * 10)))
    val delta = (100 until 140).map(i => (i.toLong, Seq.fill(dim)(rng.nextDouble() * 10)))
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_maint").toString
    val baseDf = spark.createDataFrame(base).toDF("id", "vector")
    val v0 = HnswStore.saveVersioned(baseDf, s"$dir/g", numPartitions = 4)
    assert(HnswStore.currentGraph(spark, s"$dir/g") === v0)
    // below threshold (no delta yet): no-op
    assert(HnswStore.maintainDelta(spark, s"$dir/g", s"$dir/delta") === (v0, false))
    // stream the delta in, then 40/100 > 0.2 -> rebuild as the next version
    spark.createDataFrame(delta).toDF("id", "vector")
      .coalesce(1).write.parquet(s"$dir/in")
    val q = StreamingIngest.ingestWithHnswDelta(
      spark.readStream.schema(baseDf.schema).parquet(s"$dir/in"),
      s"$dir/delta", s"$dir/ckpt")
    try q.processAllAvailable() finally q.stop()
    val query = Seq.fill(dim)(5.0)
    val mergedBefore = StreamingIngest.hnswDeltaSearch(
      spark, HnswStore.currentGraph(spark, s"$dir/g"), s"$dir/delta", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (v1, rebuilt) = HnswStore.maintainDelta(spark, s"$dir/g", s"$dir/delta")
    assert(rebuilt && v1 != v0)
    assert(!graft.store.Fs.exists(spark, s"$dir/delta"), "consumed delta must be cleared")
    // the rebuilt graph equals a FRESH build over the same rows (save is
    // deterministic: repartition by id + sort within partitions)
    val allDf = spark.createDataFrame(base ++ delta).toDF("id", "vector")
    HnswStore.save(allDf, s"$dir/fresh", numPartitions = 4)
    val served = HnswStore.search(spark, v1, query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fresh = HnswStore.search(spark, s"$dir/fresh", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served === fresh, "maintained graph must serve identically to a fresh build")
    // post-maintenance merge serving (empty delta) equals the graph alone,
    // and the pre-maintenance merge results are preserved for shared ids
    val mergedAfter = StreamingIngest.hnswDeltaSearch(spark, v1, s"$dir/delta", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(mergedAfter === served)
    assert(mergedBefore.nonEmpty, "pre-maintenance merge serving must return results")
    // crash window: delta cleared only after publish — simulate rows in
    // BOTH graph and delta; dedup-by-id keeps each id once in the top-k
    spark.createDataFrame(delta.take(10)).toDF("id", "vector")
      .coalesce(1).write.parquet(s"$dir/delta")
    val dupWindow = StreamingIngest.hnswDeltaSearch(spark, v1, s"$dir/delta", query, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(dupWindow.distinct.length === dupWindow.length,
      "no id may be seated twice during the publish/clear crash window")
    assert(dupWindow === served.map(_._1),
      "crash-window serving must equal the deduplicated graph results")
    // recovery: the next maintenance pass sees the leftover fully covered
    // by the live graph and clears it WITHOUT a rebuild
    assert(HnswStore.maintainDelta(spark, s"$dir/g", s"$dir/delta") === (v1, false))
    assert(!graft.store.Fs.exists(spark, s"$dir/delta"),
      "crash-leftover covered delta must be cleared by the next maintenance pass")
  }

  test("streaming RAG ingest equals the batch chunk->embed->assign pipeline on the same docs") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_rag_stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val embedder = new graft.text.HashEmbedder(16)
    // batch ground truth: chunk -> embed -> assign under a fixed model
    val batchChunks = graft.queries.TextQueries.chunks(spark, Sf0001)
      .select(graft.queries.TextQueries.chunkId(col("doc_id"), col("chunk_ix")).as("chunk_id"),
        embedder.embed(col("chunk")).as("vector"))
    val (_, model) = graft.index.Ivf.fit(batchChunks, vecCol = "vector",
      k = 4, idCol = "chunk_id")
    val q = StreamingIngest.ragIngest(
      StreamingIngest.readDocuments(spark, dir),
      s"$dir/index", s"$dir/ckpt", model, embedder)
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(s"$dir/index")
      .select(col("chunk_id"), col("cluster_id").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val batch = graft.index.Ivf.assign(batchChunks, model, "vector")
      .select(col("chunk_id"), col("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(streamed === batch, "streamed index must equal the batch assignment")
    assert(streamed.nonEmpty)
    // the streamed layout is immediately searchable with the model
    val qv = spark.range(1).select(embedder.embed(lit("vector database search")).as("v"))
      .head.getSeq[Double](0)
    assert(graft.index.Ivf.search(spark.read.parquet(s"$dir/index"), model, qv, 5,
      graft.index.Ivf.defaultRule(model), vecCol = "vector", idCol = "chunk_id")
      .count() === 5)
  }

  test("streaming HNSW delta ingest serves like the facade's post-insert search") {
    val dim = 8
    val rng = new java.util.Random(7)
    val base = (0 until 120).map(i => (i.toLong, Seq.fill(dim)(rng.nextDouble() * 10)))
    val delta = (120 until 140).map(i => (i.toLong, Seq.fill(dim)(rng.nextDouble() * 10)))
    // facade: insert base, build the graph, insert delta -> merge serving
    val db = new graft.api.VectorDb(spark, dim)
    db.batchInsert(base.map { case (_, v) => (v, Map.empty[String, String]) })
    db.buildHnswIndex(numPartitions = 4)
    db.batchInsert(delta.map { case (_, v) => (v, Map.empty[String, String]) })
    // streaming twin: identical graph over the base rows; the delta rows
    // arrive as a micro-batch append above the build watermark
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_delta").toString
    val baseDf = spark.createDataFrame(base).toDF("id", "vector")
    graft.index.HnswStore.save(baseDf, s"$dir/g", numPartitions = 4)
    spark.createDataFrame(delta).toDF("id", "vector")
      .coalesce(1).write.parquet(s"$dir/in")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .parquet(s"$dir/in")
    val q = StreamingIngest.ingestWithHnswDelta(stream, s"$dir/delta", s"$dir/ckpt")
    try q.processAllAvailable() finally q.stop()
    val query = Seq.fill(dim)(5.0)
    val streamed = StreamingIngest
      .hnswDeltaSearch(spark, s"$dir/g", s"$dir/delta", query, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val facade = db.hnswSearch(query, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed === facade)
    assert(streamed.nonEmpty)
  }

  test("streaming LSH ingest: appended layout serves identically to the in-memory model; compaction preserves it") {
    import org.apache.spark.sql.functions._
    import graft.index.LshAnn
    val emb = graft.model.VectorModel.embeddings(spark, Sf0001)
      .withColumn("embedding", col("embedding").cast("array<double>")).cache()
    val base = java.nio.file.Files.createTempDirectory("graft_lshstream").toString
    // deployed layout: built over the historical half; its sidecar model
    // is the assign-only contract every later batch buckets under
    val first = emb.where(col("vec_id") % 2 === 0)
    val model = LshAnn.saveBucketed(first, "embedding", "vec_id",
      s"$base/t", graft.model.VectorModel.EmbDim, numBits = 6)
    // stream in the second half as two micro-batches
    val rest = emb.where(col("vec_id") % 2 === 1).select("vec_id", "embedding")
    rest.where(col("vec_id") % 4 === 1).coalesce(1).write.parquet(s"$base/in/b0")
    rest.where(col("vec_id") % 4 === 3).coalesce(1).write.parquet(s"$base/in/b1")
    // staged batches carry the layout's own double vectors (the cached
    // frame above casts), so the stream schema is double, not the float
    // source schema
    val stream = spark.readStream.schema(rest.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$base/in")
    val q = StreamingIngest.ingestWithLshAssign(stream, s"$base/t",
      s"$base/ckpt", vecCol = "embedding", idCol = "vec_id")
    try q.awaitTermination(120000) finally q.stop()
    // the grown layout answers EXACTLY like the in-memory multi-table
    // search over all rows under the same model — candidate semantics are
    // a pure function of (model, rows), ingest path irrelevant
    val bucketed = LshAnn.withTableBuckets(emb, "embedding", model)
    val queries = (0 until 3).map(s => graft.model.VectorModel.syntheticQuery(s))
    def served(): Seq[Seq[(Long, Double)]] = queries.map(q =>
      LshAnn.searchStored(spark.read.parquet(s"$base/t"), model, q, 10,
        LshAnn.Directed(12), vecCol = "embedding", idCol = "vec_id")
        .select("vec_id", "sim").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    val grown = served()
    val mem = queries.map(q =>
      LshAnn.searchMulti(bucketed, model, q, 10, LshAnn.Directed(12),
        vecCol = "embedding", idCol = "vec_id")
        .select("vec_id", "sim").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(grown === mem)
    assert(grown.exists(_.nonEmpty))
    // streamed rows actually landed (not answered by the initial build)
    val streamedIds = rest.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(grown.flatten.map(_._1).exists(streamedIds),
      "some served neighbors must come from streamed batches")
    // compaction folds the per-batch appended files, provably changing
    // nothing: fewer data files, same serving results, sidecar intact
    val before = LshAnn.dataFileCount(spark, s"$base/t")
    assert(LshAnn.compactBucketed(spark, s"$base/t", maxDataFiles = before - 1))
    val after = LshAnn.dataFileCount(spark, s"$base/t")
    assert(after < before)
    assert(served() === grown)
    assert(LshAnn.loadTables(spark, s"$base/t").planes.flatten.flatten.toSeq ===
      model.planes.flatten.flatten.toSeq)
    // below threshold: no-op
    assert(!LshAnn.compactBucketed(spark, s"$base/t", maxDataFiles = after))
  }

  test("streaming semantic dedup: stream-ingested keepers equal the batch scale twin") {
    import org.apache.spark.sql.functions._
    val emb = graft.model.VectorModel.embeddings(spark, Sf0001)
    val base = java.nio.file.Files.createTempDirectory("graft_semstream").toString
    // three micro-batches, interleaved by id so near-dup pairs straddle
    // batch boundaries in both directions (old↔new each way)
    (0 until 3).foreach(i =>
      emb.where(col("vec_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(s"$base/in"))
    // the deployed model: build-time state, fit exactly as the batch twin's
    // pair layout fits it — equality below requires the same centroids
    val (_, model) = graft.index.Ivf.fit(emb, vecCol = "embedding", idCol = "vec_id")
    val stream = spark.readStream
      .schema(StreamingIngest.EmbeddingsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
    val q = StreamingIngest.semanticDedupIngest(
      stream, s"$base/state", s"$base/ckpt", model)
    try q.awaitTermination(240000) finally q.stop()
    // keeper-for-keeper equality with dd_semantic_ivf on the same rows
    val streamed = StreamingIngest.semanticKeepersStreamed(spark, s"$base/state")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val batch = graft.queries.DedupQueries.semanticKeepersBucketed(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(streamed === batch)
    assert(streamed.exists(_._3 == 0), "fixture must contain semantic duplicates")
    // the accumulated delta-discovered pair log is the batch operator's
    // pair SET — the two-direction join loses nothing at batch boundaries
    val streamedPairs = spark.read.parquet(s"$base/state/pairs")
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = spark.read
      .parquet(graft.queries.DedupQueries.embPairLayout(spark, Sf0001))
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamedPairs === batchPairs)
    // ---- maintenance: the per-batch appends leave one file per touched
    // cluster per batch; compaction folds each dir back to one file per
    // cluster, provably changing NOTHING the serving paths read
    val beforeAssigned = StreamingIngest.dataFileCount(spark, s"$base/state/assigned")
    val beforeProbed = StreamingIngest.dataFileCount(spark, s"$base/state/probed")
    assert(beforeAssigned > 16 && beforeProbed > 16,
      s"3 appending batches must leave >16 files ($beforeAssigned/$beforeProbed)")
    val acts = StreamingIngest.compactSemanticState(spark, s"$base/state",
      maxFilesPerDir = 16)
    assert(acts === Seq("assigned", "probed"))
    val afterAssigned = StreamingIngest.dataFileCount(spark, s"$base/state/assigned")
    val afterProbed = StreamingIngest.dataFileCount(spark, s"$base/state/probed")
    assert(afterAssigned <= 16 && afterAssigned < beforeAssigned)
    assert(afterProbed <= 16 && afterProbed < beforeProbed)
    // keepers and the pair log are untouched by compaction
    val keptAfter = StreamingIngest.semanticKeepersStreamed(spark, s"$base/state")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(keptAfter === streamed)
    val pairsAfter = spark.read.parquet(s"$base/state/pairs")
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsAfter === streamedPairs)
    // a further ingested batch discovers pairs against the COMPACTED state
    // exactly as before (the layout contract survived the rewrite)
    StreamingIngest.semanticIngestBatch(
      emb.where(col("vec_id") % 3 === 0)
        .select(col("vec_id"), col("embedding")), s"$base/state", 99L,
      model, 0.4, 4, "embedding", "vec_id")
    val keptReplay = StreamingIngest.semanticKeepersStreamed(spark, s"$base/state")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(keptReplay === streamed,
      "re-ingesting already-seen rows after compaction must not change keepers")
    // below the threshold now: the maintenance pass is a no-op
    assert(StreamingIngest.compactSemanticState(spark, s"$base/state",
      maxFilesPerDir = 64) === Seq.empty)
  }

  test("dataFileCount ignores files NESTED under hidden dirs (a sink's _spark_metadata logs)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_count").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/part-0.parquet"), Array[Byte](1))
    // a file-sink's commit log: plain-digit leaf names inside a hidden dir
    // — a leaf-only filter would count them as data and inflate the
    // compaction trigger
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/_spark_metadata"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_spark_metadata/0"), Array[Byte](1))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_spark_metadata/1"), Array[Byte](1))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_SUCCESS"), Array[Byte]())
    assert(graft.store.Fs.dataFileCount(spark, dir) === 1)
    // components ABOVE the queried root stay exempt: a layout under a
    // _scratch staging dir still counts its own data files
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/_scratch/layout"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_scratch/layout/part-0.parquet"), Array[Byte](1))
    assert(graft.store.Fs.dataFileCount(spark, s"$dir/_scratch/layout") === 1)
  }
  test("streaming shard export: per-batch shards byte-equal batch exports, global reads, replay, heal") {
    import org.apache.spark.sql.functions._
    val docs = graft.model.VectorModel.documents(spark, Sf0001)
      .select("doc_id", "text").cache()
    val base = java.nio.file.Files.createTempDirectory("graft_shardstream").toString
    val epochOf = pmod(col("doc_id"), lit(3))
    (0 until 3).foreach { e =>
      docs.where(epochOf === e).coalesce(1).write.parquet(f"$base/in/b$e")
    }
    val stream = spark.readStream.schema(docs.select("doc_id", "text").schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$base/in")
    val cap = 64
    val layout = s"$base/shards"
    val q = StreamingIngest.shardIngest(stream, layout, s"$base/ckpt", cap,
      numFiles = 3)
    try q.awaitTermination(120000) finally q.stop()
    val batches = StreamingIngest.completeShardBatches(spark, layout)
    assert(batches.map(_._1) === Seq(0L, 1L, 2L))
    // manifest bases are cumulative and self-consistent
    batches.foldLeft(0L) { case (expectBase, (id, _, first, end)) =>
      assert(first === expectBase, s"batch $id base")
      assert(end > first); end
    }
    def fileBytes(path: String): Array[Byte] = {
      val (fs, p) = graft.store.Fs.pathFs(spark, path)
      val len = fs.getFileStatus(p).getLen.toInt
      val bytes = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, bytes) finally in.close()
      bytes
    }
    def shardFiles(dir: String): Seq[String] = {
      val (fs, p) = graft.store.Fs.pathFs(spark, dir)
      fs.listStatus(p).map(_.getPath.toString)
        .filter(f => f.endsWith(".bin") || f.endsWith(".idx")).sorted.toSeq
    }
    // each batch's shard set byte-equals a direct batch export of the
    // same slice — the streamed layout IS the batch operator's output
    batches.foreach { case (id, dir, _, _) =>
      val expectDir = s"$base/expected/b$id"
      graft.operators.TokenShards.write(
        docs.where(epochOf === id), "doc_id", "text", cap, 32, 3, expectDir)
      val got = shardFiles(dir); val want = shardFiles(expectDir)
      assert(got.map(_.split('/').last) === want.map(_.split('/').last),
        s"batch $id file set")
      got.zip(want).foreach { case (g, w) =>
        assert(java.util.Arrays.equals(fileBytes(g), fileBytes(w)),
          s"batch $id: $g diverges from the batch export") }
    }
    // every GLOBAL window point-reads to the owning batch's local window
    val total = batches.last._4
    (0L until total).foreach { gseq =>
      val owner = batches.find(b => gseq >= b._3 && gseq < b._4).get
      assert(StreamingIngest.readGlobalWindow(spark, layout, gseq) ===
        graft.operators.TokenShards.readWindow(spark, owner._2, gseq - owner._3))
    }
    intercept[IllegalArgumentException] {
      StreamingIngest.readGlobalWindow(spark, layout, total) }
    // the batched loader-step twin: scattered disordered duplicates come
    // back per-window-identical, in requested order
    val req = Seq(total - 1, 0L, total / 2, 0L, total - 1)
    val gotBatch = StreamingIngest.readGlobalWindows(spark, layout, req)
    req.zip(gotBatch).foreach { case (g, w) =>
      assert(w === StreamingIngest.readGlobalWindow(spark, layout, g)) }
    assert(StreamingIngest.readGlobalWindows(spark, layout, Nil) === Nil)
    intercept[IllegalArgumentException] {
      StreamingIngest.readGlobalWindows(spark, layout, Seq(total)) }
    // replay of a committed id is a byte-level no-op
    val before = batches.map(_._2).flatMap(shardFiles).map(f => f -> fileBytes(f).toSeq).toMap
    StreamingIngest.shardAppendBatch(docs.where(epochOf === 2), layout,
      cap, 3, batchId = 2L)
    before.foreach { case (f, b) =>
      assert(fileBytes(f).toSeq === b, s"replay changed $f") }
    assert(StreamingIngest.readShardState(spark, layout) === ((2L, total)))
    // sidecar loss self-heals from the per-batch end markers
    val (fsH, pH) = graft.store.Fs.pathFs(spark, layout)
    val statePath = new org.apache.hadoop.fs.Path(pH, "_graft_shard_state")
    fsH.delete(statePath, false)
    assert(StreamingIngest.readShardState(spark, layout) === ((2L, total)))
    // a TORN sidecar (crash between create and write: empty or a truncated
    // "<batchId>" prefix) must read as absent — heal, never a wrong state
    Seq("", "12", "2 ", s"2 $total extra").foreach { torn =>
      val out = fsH.create(statePath, true)
      try out.write(torn.getBytes("UTF-8")) finally out.close()
      assert(StreamingIngest.readShardState(spark, layout) === ((2L, total)),
        s"torn sidecar '$torn' must fall through to the marker heal")
    }
    fsH.delete(statePath, false)
  }

  test("streaming sequence packing: grown layout equals the batch pack over the union") {
    import org.apache.spark.sql.functions._
    val docs = graft.model.VectorModel.documents(spark, Sf0001)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .cache()
    val base = java.nio.file.Files.createTempDirectory("graft_packstream").toString
    // three arrival epochs, staged as one file each (maxFilesPerTrigger=1
    // -> one micro-batch per epoch, in write order)
    val epochOf = pmod(col("doc_id"), lit(3))
    (0 until 3).foreach { e =>
      docs.where(epochOf === e).coalesce(1).write.parquet(f"$base/in/b$e")
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$base/in")
    val cap = 256
    val q = StreamingIngest.packIngest(stream, s"$base/pack", s"$base/ckpt",
      cap, idCol = "doc_id", nTokensCol = "n_tokens", shards = 8)
    try q.awaitTermination(120000) finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n", "start", "seq", "off", "n_seqs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
    val grown = rows(spark.read.parquet(s"$base/pack"))
    val union = rows(graft.operators.SeqPack.packEpochs(
      docs, "doc_id", col("n_tokens"), cap, epochOf, shards = 8))
    assert(grown.nonEmpty)
    assert(grown === union)
    // stability: re-packing ONLY the first two epochs yields placements
    // that are a subset of the grown layout — later arrivals never moved
    // earlier windows
    val firstTwo = rows(graft.operators.SeqPack.packEpochs(
      docs.where(epochOf < 2), "doc_id", col("n_tokens"), cap, epochOf,
      shards = 8))
    assert(firstTwo.subsetOf(grown))
    // the sidecar equals the re-derivable running total (self-healing)
    val total = StreamingIngest.readPackTotal(spark, s"$base/pack")
    val expected = docs.agg(sum("n_tokens")).head.getLong(0)
    assert(total === expected)
    // foreachBatch is at-least-once: a REPLAYED batch id must be a no-op
    // (the committed-id guard), never duplicate rows or shift bases
    StreamingIngest.packAppendBatch(docs.where(epochOf === 2), s"$base/pack",
      cap, "doc_id", "n_tokens", 8, batchId = 2L)
    assert(rows(spark.read.parquet(s"$base/pack")) === grown)
    assert(StreamingIngest.readPackTotal(spark, s"$base/pack") === expected)
    // sidecar LOSS, newest batch dir COMPLETE (_SUCCESS present): the
    // self-heal must trust it as committed — the streaming checkpoint may
    // have survived the sidecar loss, in which case the source delivers
    // maxB+1 next and never replays maxB; claiming maxB-1 would drop
    // maxB's tokens from the base and pack maxB+1 over its offsets
    val (fsH, pH) = graft.store.Fs.pathFs(spark, s"$base/pack")
    fsH.delete(new org.apache.hadoop.fs.Path(pH, "_graft_pack_total"), false)
    val maxB = spark.read.parquet(s"$base/pack")
      .agg(max(col("batch").cast("long"))).head.getLong(0)
    val (healedId, healedBase) = StreamingIngest.readPackState(spark, s"$base/pack")
    assert(healedId === maxB, "complete newest batch must count as committed")
    assert(healedBase === expected)
    // sidecar LOSS + _SUCCESS gone but the engine's OWN commit record
    // present (the marksuccessfuljobs=false object-store deployment,
    // where no _SUCCESS is ever written): the record + its end-total
    // cross-check still prove completeness — maxB counts as committed
    fsH.delete(new org.apache.hadoop.fs.Path(pH, s"batch=$maxB/_SUCCESS"), false)
    val (mkId, mkBase) = StreamingIngest.readPackState(spark, s"$base/pack")
    assert(mkId === maxB, "engine commit record must prove completeness without _SUCCESS")
    assert(mkBase === expected)
    // sidecar LOSS + NEITHER proof (record gone too — the
    // interrupted-job-commit shape): the heal re-opens maxB, and the
    // foreachBatch replay of maxB rewrites the dir idempotently,
    // restoring the exact pre-loss state
    fsH.delete(new org.apache.hadoop.fs.Path(pH, s"batch=$maxB/_graft_batch_end"), false)
    val (reopenId, reopenBase) = StreamingIngest.readPackState(spark, s"$base/pack")
    assert(reopenId === maxB - 1, "unprovable newest batch must be re-opened")
    assert(reopenBase === docs.where(epochOf < maxB).agg(sum("n_tokens")).head.getLong(0))
    StreamingIngest.packAppendBatch(docs.where(epochOf === maxB), s"$base/pack",
      cap, "doc_id", "n_tokens", 8, batchId = maxB)
    assert(rows(spark.read.parquet(s"$base/pack")) === grown)
    assert(StreamingIngest.readPackTotal(spark, s"$base/pack") === expected)
    // sidecar + _SUCCESS gone, record PRESENT but the dir's tail file
    // lost mid-commit: the end-total cross-check must reject the dir
    // (record existence alone is not proof the data survived)
    fsH.delete(new org.apache.hadoop.fs.Path(pH, "_graft_pack_total"), false)
    fsH.delete(new org.apache.hadoop.fs.Path(pH, s"batch=$maxB/_SUCCESS"), false)
    val tailFile = spark.read.parquet(s"$base/pack/batch=$maxB")
      .select(input_file_name().as("f"), (col("start") + col("n")).as("e"))
      .orderBy(desc("e")).head.getString(0)
    fsH.delete(new org.apache.hadoop.fs.Path(new java.net.URI(tailFile)), false)
    val (tailId, _) = StreamingIngest.readPackState(spark, s"$base/pack")
    assert(tailId === maxB - 1, "truncated dir must fail the end-total cross-check")
    // and the replay restores the layout exactly once more
    StreamingIngest.packAppendBatch(docs.where(epochOf === maxB), s"$base/pack",
      cap, "doc_id", "n_tokens", 8, batchId = maxB)
    assert(rows(spark.read.parquet(s"$base/pack")) === grown)
    assert(StreamingIngest.readPackTotal(spark, s"$base/pack") === expected)
  }

  test("pack self-heal: middle loss, tail-under-_SUCCESS loss, prior-batch loss") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // hand-built layouts so the file split is deterministic: batch=0 is
    // one file tiling [0, 100) with its record; batch=1 is TWO files
    // tiling [100, 160) with its record
    def build(tag: String): (String, org.apache.hadoop.fs.FileSystem,
        org.apache.hadoop.fs.Path) = {
      val root = java.nio.file.Files.createTempDirectory(tag).toString + "/pack"
      def part(b: Int, id: Long, start: Long, n: Long): Unit =
        Seq((id, start, n)).toDF("doc_id", "start", "n")
          .withColumn("seq", lit(0L)).withColumn("off", lit(start % 2048))
          .withColumn("n_seqs", lit(1L))
          .coalesce(1).write.mode("append").parquet(s"$root/batch=$b")
      part(0, 0L, 0L, 100L)
      part(1, 1L, 100L, 30L)
      part(1, 2L, 130L, 30L)
      val (fsH, pH) = graft.store.Fs.pathFs(spark, root)
      def rec(b: Int, end: Long): Unit = {
        val o = fsH.create(
          new org.apache.hadoop.fs.Path(pH, s"batch=$b/_graft_batch_end"), true)
        o.write(s"$end\n".getBytes("UTF-8")); o.close()
      }
      rec(0, 100L); rec(1, 160L)
      (root, fsH, pH)
    }
    def fileOf(root: String, b: Int, start: Long): org.apache.hadoop.fs.Path = {
      val f = spark.read.parquet(s"$root/batch=$b")
        .select(input_file_name().as("f"), col("start"))
        .where(col("start") === start).head.getString(0)
      new org.apache.hadoop.fs.Path(new java.net.URI(f))
    }
    // intact: provably complete through batch 1
    locally {
      val (root, _, _) = build("graft_packok")
      assert(StreamingIngest.readPackState(spark, root) === ((1L, 160L)))
    }
    // MIDDLE file of the newest batch lost: the tail survives, so
    // max(start+n) still equals the record — only the sum-tiling identity
    // can reject the dir
    locally {
      val (root, fsH, _) = build("graft_packmid")
      fsH.delete(fileOf(root, 1, 100L), false)
      assert(spark.read.parquet(s"$root/batch=1")
        .agg(max(col("start") + col("n"))).head.getLong(0) === 160L,
        "fixture: the surviving tail must still reach the recorded end")
      assert(StreamingIngest.readPackState(spark, root) === ((0L, 100L)),
        "a batch with a lost middle file must not read as provably complete")
    }
    // TAIL file lost post-commit WITH _SUCCESS present: the shrunken dir
    // still tiles [100, 130), so only the record equality can reject it —
    // the record must take precedence over _SUCCESS
    locally {
      val (root, fsH, pH) = build("graft_packtail")
      val s = fsH.create(new org.apache.hadoop.fs.Path(pH, "batch=1/_SUCCESS"), true)
      s.close()
      fsH.delete(fileOf(root, 1, 130L), false)
      assert(StreamingIngest.readPackState(spark, root) === ((0L, 100L)),
        "_SUCCESS must not outrank a record that contradicts the surviving data")
    }
    // data-file loss in a PRIOR batch (its record survives): the intact
    // newest batch must stay provably complete — its base comes from the
    // prior batch's record, not the prior batch's surviving rows
    locally {
      val (root, fsH, _) = build("graft_packprior")
      fsH.delete(fileOf(root, 0, 0L), false)
      assert(StreamingIngest.readPackState(spark, root) === ((1L, 160L)),
        "an old batch's corruption must not demote an intact newest batch")
    }
  }

  test("streaming shard shuffle: frozen prior positions, grown state equals the epoch twin") {
    import org.apache.spark.sql.functions._
    val docs = graft.model.VectorModel.documents(spark, Sf0001)
    val base = java.nio.file.Files.createTempDirectory("graft_shufstream").toString
    (0 until 3).foreach(i =>
      docs.where(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(s"$base/in"))
    val stream = spark.readStream
      .schema(StreamingIngest.DocumentsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
    val q = StreamingIngest.shardShuffleIngest(stream, s"$base/state", s"$base/ckpt")
    try q.awaitTermination(240000) finally q.stop()
    val state = spark.read.parquet(s"$base/state").cache()
    // grown state == the epoch-ordered batch twin, with epoch = the batch
    // the stream actually assigned each doc to
    val epochOfDoc = state.select(col("doc_id"), col("batch").cast("long").as("e"))
    val twin = graft.queries.PipelineQueries.shuffleShardsEpochs(
        docs.join(epochOfDoc, "doc_id"), col("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val grown = state.select("doc_id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(grown === twin)
    // positions dense per shard, and batch-0 positions are exactly the
    // batch operator's positions over batch-0 docs alone (frozen prefix)
    val b0 = state.where(col("batch") === 0)
    val b0ids = b0.select("doc_id").collect().map(_.getLong(0)).toSet
    val solo = graft.queries.PipelineQueries.shuffleShardsEpochs(
        docs.where(col("doc_id").isInCollection(b0ids)), lit(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(b0.select("doc_id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === solo,
      "earlier epochs' positions must be frozen under later arrivals")
    // replay of the last batch leaves the state byte-identical
    val lastB = state.agg(max(col("batch").cast("long"))).head.getLong(0)
    val lastIds = state.where(col("batch") === lastB)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    state.unpersist()
    StreamingIngest.shardShuffleIngestBatch(
      docs.where(col("doc_id").isInCollection(lastIds)), s"$base/state", lastB)
    val replayed = spark.read.parquet(s"$base/state")
      .select("doc_id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(replayed === grown, "replay must not move or duplicate positions")
  }

  test("streaming temperature mix: frozen prior decisions, grown state equals the epoch twin") {
    import org.apache.spark.sql.functions._
    val docs = graft.model.VectorModel.documents(spark, Sf0001)
    val base = java.nio.file.Files.createTempDirectory("graft_mixstream").toString
    (0 until 3).foreach(i =>
      docs.where(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(s"$base/in"))
    val stream = spark.readStream
      .schema(StreamingIngest.DocumentsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
    val q = StreamingIngest.temperatureMixIngest(stream, s"$base/state", s"$base/ckpt")
    try q.awaitTermination(240000) finally q.stop()
    val kept = spark.read.parquet(s"$base/state/kept").cache()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "source", "bucket", "threshold", "kept")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSet
    // grown decisions == the epoch-ordered batch twin on the same batches
    val epochOfDoc = kept.select(col("doc_id"), col("batch").cast("long").as("e"))
    val twin = graft.queries.PipelineQueries.temperatureMixEpochs(
      docs.join(epochOfDoc, "doc_id"), col("e"))
    assert(rows(kept) === rows(twin))
    // the first batch's thresholds are exactly the batch operator's over
    // those rows alone (a single-epoch run degenerates to the batch op)
    val b0ids = kept.where(col("batch") === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val soloReport = graft.queries.PipelineQueries.temperatureMixEpochs(
        docs.where(col("doc_id").isInCollection(b0ids)), lit(0L))
      .select("source", "threshold").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b0Report = kept.where(col("batch") === 0)
      .select("source", "threshold").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(b0Report === soloReport,
      "first-batch thresholds must equal the batch operator's")
    // decisions are frozen: batch-0 rows never change once later batches land
    // (the twin equality above implies it — also check replay idempotence)
    val lastB = kept.agg(max(col("batch").cast("long"))).head.getLong(0)
    val lastIds = kept.where(col("batch") === lastB)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val before = rows(kept)
    kept.unpersist()
    StreamingIngest.temperatureMixIngestBatch(
      docs.where(col("doc_id").isInCollection(lastIds)), s"$base/state", lastB)
    assert(rows(spark.read.parquet(s"$base/state/kept")) === before,
      "replay must not change any decision")
  }

  test("streaming bigram rarity: frozen prior scores, grown state equals the epoch twin") {
    import org.apache.spark.sql.functions._
    val docs = graft.model.VectorModel.documents(spark, Sf0001)
    val base = java.nio.file.Files.createTempDirectory("graft_bgstream").toString
    (0 until 3).foreach(i =>
      docs.where(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(s"$base/in"))
    val stream = spark.readStream
      .schema(StreamingIngest.DocumentsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
    val q = StreamingIngest.bigramRarityIngest(stream, s"$base/state", s"$base/ckpt")
    try q.awaitTermination(240000) finally q.stop()
    val scores = spark.read.parquet(s"$base/state/scores").cache()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_bigrams", "n_rare", "rare_frac")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(scores.count() === docs.count())
    // grown scores == the epoch-ordered batch twin on the stream's batches
    val epochOfDoc = scores.select(col("doc_id"), col("batch").cast("long").as("e"))
    val twin = graft.queries.TextQueries.bigramRarityEpochs(
      docs.join(epochOfDoc, "doc_id"), col("e"))
    assert(rows(scores) === rows(twin))
    // frozen prefix: batch-0 scores equal the batch operator over batch-0
    // docs alone (counts-so-far = batch 0's own counts)
    val b0ids = scores.where(col("batch") === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val solo = graft.queries.TextQueries.bigramRarityEpochs(
      docs.where(col("doc_id").isInCollection(b0ids)), lit(0L))
    assert(rows(scores.where(col("batch") === 0)) === rows(solo),
      "earlier batches' scores must be frozen under later arrivals")
    // later docs see the grown counts: some doc scored in a later batch
    // must differ from what a solo scoring of its batch would give
    // (otherwise the cumulative read is not actually cumulative)
    val lastB = scores.agg(max(col("batch").cast("long"))).head.getLong(0)
    val lastIds = scores.where(col("batch") === lastB)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val lastSolo = graft.queries.TextQueries.bigramRarityEpochs(
      docs.where(col("doc_id").isInCollection(lastIds)), lit(0L))
    assert(rows(scores.where(col("batch") === lastB)) !== rows(lastSolo),
      "last batch's scores should reflect the grown corpus counts")
    // replay idempotence: re-running the last batch changes nothing
    val before = rows(scores)
    val gramRows = spark.read.parquet(s"$base/state/grams").count()
    scores.unpersist()
    StreamingIngest.bigramRarityIngestBatch(
      docs.where(col("doc_id").isInCollection(lastIds)), s"$base/state", lastB)
    assert(rows(spark.read.parquet(s"$base/state/scores")) === before,
      "replay must not change any score")
    assert(spark.read.parquet(s"$base/state/grams").count() === gramRows,
      "replay must not grow the gram state")
    // roll-up compaction: cumulative counts and the frozen score log are
    // IDENTICAL over fewer partitions, and the newest batch stays its own
    // replay target
    def counts() = spark.read.parquet(s"$base/state/grams")
      .groupBy("gram").agg(sum("n").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val preCounts = counts()
    val compacted = StreamingIngest.compactBigramState(spark, s"$base/state")
    assert(compacted.size === 2, s"expected both state dirs folded, got $compacted")
    assert(counts() === preCounts, "compaction must preserve cumulative counts")
    assert(rows(spark.read.parquet(s"$base/state/scores")) === before,
      "compaction must preserve the frozen score log")
    assert(spark.read.parquet(s"$base/state/grams")
      .select("batch").distinct().count() === 2L,
      "folded state must be one merged partition + the newest batch")
    // and the newest batch's replay is still idempotent post-compaction
    StreamingIngest.bigramRarityIngestBatch(
      docs.where(col("doc_id").isInCollection(lastIds)), s"$base/state", lastB)
    assert(rows(spark.read.parquet(s"$base/state/scores")) === before,
      "replay after compaction must not change any score")
  }

  test("streaming sketches: grown partials fold to the batch sketch states, compaction preserves them") {
    import org.apache.spark.sql.functions._
    import graft.queries.AnalyticsQueries
    val ev = graft.model.VectorModel.events(spark, Sf0001)
      .select("event_id", "user_id", "event_type", "value", "ts").cache()
    val base = java.nio.file.Files.createTempDirectory("graft_skstream").toString
    (0 until 3).foreach(i =>
      ev.where(col("event_id") % 3 === i).coalesce(1)
        .write.parquet(f"$base/in/b$i"))
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$base/in")
    val st = s"$base/state"
    val q = StreamingIngest.sketchIngest(stream, st, s"$base/ckpt")
    try q.awaitTermination(120000) finally q.stop()
    def cmSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    def hllSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    def qsSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    def kmvSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // each grown state folds to exactly the batch kernel over full history
    val cmBatch = cmSet(AnalyticsQueries.cmCounters(
      ev.select(col("user_id").cast("string").as("k"))))
    val hllBatch = hllSet(AnalyticsQueries.hllRegisters(ev))
    val qsBatch = qsSet(graft.operators.TopK.perGroupBottomS(
      AnalyticsQueries.qsPrioritized(ev), "event_type",
      col("pri"), col("value"), AnalyticsQueries.QsSampleSize))
    val kmvBatch = kmvSet(AnalyticsQueries.kmvSketches(ev))
    assert(cmSet(StreamingIngest.cmCountersFrom(spark, st)) === cmBatch)
    assert(hllSet(StreamingIngest.hllRegistersFrom(spark, st)) === hllBatch)
    assert(qsSet(StreamingIngest.qsSampleFrom(spark, st)) === qsBatch)
    assert(kmvSet(StreamingIngest.kmvSketchFrom(spark, st)) === kmvBatch)
    // end-to-end: the registered quantile entry re-derives from grown state
    val servedQ = AnalyticsQueries.qsQuantiles(StreamingIngest.qsSampleFrom(spark, st))
      .collect().map(_.toSeq).toSeq
    val batchQ = AnalyticsQueries.quantileSketch(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(servedQ === batchQ)
    // ...and the HLL estimate tail serves from grown registers identically
    val servedH = AnalyticsQueries.hllEstimate(StreamingIngest.hllRegistersFrom(spark, st))
      .orderBy(col("event_type")).collect().map(_.toSeq).toSeq
    val batchH = AnalyticsQueries.hllUsers(spark, Sf0001)
      .select("event_type", "hll_users").collect().map(_.toSeq).toSeq
    assert(servedH === batchH)
    // replay idempotence: re-running the last batch changes nothing.
    // FileStreamSource does not guarantee which staged file became which
    // batch id, so identify the last batch's slice by matching its stored
    // CM partial instead of assuming write order
    val lastB = spark.read.parquet(s"$st/cm")
      .agg(max(col("batch").cast("long"))).head.getLong(0)
    val lastPartial = cmSet(spark.read.parquet(s"$st/cm")
      .where(col("batch") === lastB).select("r", "cell", "c"))
    val lastSlice = (0 until 3).find { i =>
      cmSet(AnalyticsQueries.cmCounters(
        ev.where(col("event_id") % 3 === i)
          .select(col("user_id").cast("string").as("k")))) == lastPartial
    }.getOrElse(fail("no staged slice matches the last batch's CM partial"))
    StreamingIngest.sketchIngestBatch(
      ev.where(col("event_id") % 3 === lastSlice), st, lastB)
    assert(cmSet(StreamingIngest.cmCountersFrom(spark, st)) === cmBatch)
    assert(hllSet(StreamingIngest.hllRegistersFrom(spark, st)) === hllBatch)
    assert(qsSet(StreamingIngest.qsSampleFrom(spark, st)) === qsBatch)
    assert(kmvSet(StreamingIngest.kmvSketchFrom(spark, st)) === kmvBatch)
    // roll-up compaction folds each log with its OWN merge; reads identical
    val compacted = StreamingIngest.compactSketchState(spark, st)
    assert(compacted.size === 4, s"expected all four sketch logs folded, got $compacted")
    assert(cmSet(StreamingIngest.cmCountersFrom(spark, st)) === cmBatch)
    assert(hllSet(StreamingIngest.hllRegistersFrom(spark, st)) === hllBatch)
    assert(qsSet(StreamingIngest.qsSampleFrom(spark, st)) === qsBatch)
    assert(kmvSet(StreamingIngest.kmvSketchFrom(spark, st)) === kmvBatch)
    // post-compaction replay of the newest batch is still idempotent
    StreamingIngest.sketchIngestBatch(
      ev.where(col("event_id") % 3 === lastSlice), st, lastB)
    assert(cmSet(StreamingIngest.cmCountersFrom(spark, st)) === cmBatch)
    ev.unpersist()
  }

  test("streaming WARC acquisition: grown docs == batch reader, replay idempotent") {
    import org.apache.spark.sql.functions._
    import graft.sources.WarcSource
    val docs = graft.model.VectorModel.documents(spark, Sf0001)
    val base = java.nio.file.Files.createTempDirectory("graft_warcstream").toString
    // three archive drops (one plain, one member-gzip wave) landing in one
    // watched directory — the crawler-drop layout
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()
    def land(lo: Long, hi: Long, gz: Boolean, tag: String): Unit = {
      val tmp = s"$base/stage_$tag"
      val slice = docs.where(col("doc_id") >= lo && col("doc_id") < hi)
      if (gz) WarcSource.writeGz(slice, tmp) else WarcSource.write(slice, tmp)
      val hPath = new org.apache.hadoop.fs.Path(tmp)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(hPath).map(_.getPath)
        .filter(_.getName.startsWith("part-")).zipWithIndex.foreach {
          case (p, i) =>
            fs.rename(p, new org.apache.hadoop.fs.Path(
              inDir, s"$tag-$i-${p.getName}"))
        }
    }
    land(0, 180, gz = false, "a")
    land(180, 360, gz = true, "b")
    land(360, 10000, gz = false, "c")
    val stream = spark.readStream.format("binaryFile")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
      .option("pathGlobFilter", "*.warc*")
      .option("maxFilesPerTrigger", "2")
      .load(inDir)
    val st = s"$base/state"
    val q = StreamingIngest.warcIngest(stream, st, s"$base/ckpt")
    try q.awaitTermination(120000) finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
    val grown = rows(StreamingIngest.warcDocsFrom(spark, st))
    // the crawler-drop dir was assembled file-by-file (no directory-level
    // publish), so the batch reader takes the external-archive shape
    assert(grown === rows(WarcSource.readDocuments(spark, inDir,
        requireMarker = false)),
      "grown acquisition state must equal the batch reader over all files")
    assert(grown === rows(docs),
      "the acquisition round trip must recover the original corpus")
    // replay of the newest batch is content-idempotent
    val lastB = spark.read.parquet(s"$st/docs")
      .agg(max(col("batch").cast("long"))).head.getLong(0)
    val lastIds = spark.read.parquet(s"$st/docs")
      .where(col("batch") === lastB).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // rebuild the last batch's file rows (path, content) from disk
    val hIn = new org.apache.hadoop.fs.Path(inDir)
    val fs = hIn.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lastFiles = fs.listStatus(hIn).map(_.getPath)
      // archives only — member-gzip egress also drops .cdx sidecars
      .filter(_.getName.contains(".warc"))
      .filter { p =>
        WarcSource.docsFromBytes(p.toString, readAll(fs, p))
          .forall(r => lastIds(r.getLong(0)))
      }
    val spark2 = spark
    import spark2.implicits._
    val replay = lastFiles.map(p => (p.toString, readAll(fs, p))).toSeq
      .toDF("path", "content")
    StreamingIngest.warcIngestBatch(replay, st, lastB)
    assert(rows(StreamingIngest.warcDocsFrom(spark, st)) === grown,
      "replay of the newest batch must not change the grown corpus")
  }

  private def readAll(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 64 * 1024, false)
      bos.toByteArray
    } finally in.close()
  }

  test("streaming URL frontier: grown keys == batch dedup, recurrence never re-emits, replay idempotent") {
    import org.apache.spark.sql.functions._
    import graft.text.Urls
    val docs = graft.model.VectorModel.documents(spark, Sf0001)
    val corpus = Urls.urlCorpus(docs).cache()
    val base = java.nio.file.Files.createTempDirectory("graft_urlfrontier").toString
    val st = s"$base/state"
    // three ascending discovery waves with OVERLAP: waves 1 and 2 re-discover
    // earlier ranges (recurring canonical keys must not re-emit)
    val waves = Seq((0L, 200L), (100L, 380L), (0L, 10000L))
    waves.zipWithIndex.foreach { case ((lo, hi), b) =>
      StreamingIngest.urlFrontierIngestBatch(
        corpus.where(col("doc_id") >= lo && col("doc_id") < hi), st, b.toLong)
    }
    def keySet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val grown = keySet(StreamingIngest.urlFrontierFrom(spark, st))
    // ids ascend with waves, so first-arrival keeper == global min keeper
    val batch = keySet(graft.queries.DedupQueries.urlDedup(spark, Sf0001)
      .select("curl", "keeper"))
    assert(grown === batch,
      "grown frontier must equal the batch canonical dedup over full history")
    // each canonical key admitted exactly once across partitions
    val perKey = spark.read.parquet(s"$st/seen")
      .groupBy("curl").count().where(col("count") > 1).count()
    assert(perKey === 0L, "a canonical key re-emitted in a later wave")
    // replay of the newest batch rewrites identically
    StreamingIngest.urlFrontierIngestBatch(corpus, st, waves.size - 1L)
    assert(keySet(StreamingIngest.urlFrontierFrom(spark, st)) === batch)
    // a replay BEHIND the newest partition fails loudly (the shared
    // writer choke point)
    val e = intercept[IllegalArgumentException] {
      StreamingIngest.urlFrontierIngestBatch(corpus, st, 0L)
    }
    assert(e.getMessage.contains("behind the newest state partition"))
    corpus.unpersist()
  }

  test("streaming KMV: cross-batch recurrence past k does not displace genuine minima") {
    import org.apache.spark.sql.functions._
    import graft.queries.AnalyticsQueries
    // One type, 450 distinct users (> KmvK = 256), three batches whose user
    // ranges OVERLAP — the same (event_type, h) recurs across micro-batch
    // partitions. A distinct over the raw state (which carries the `batch`
    // partition column) keeps one copy per batch; the duplicated hashes then
    // displace genuine k-th minima in the bottom-k fold. The projection-first
    // distinct in kmvSketchFrom keeps this equal to the batch kernel.
    val spark2 = spark
    import spark2.implicits._
    val ev = (0 until 450).map(u =>
      (u.toLong, u.toLong, "click", 1.0, 0L))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val base = java.nio.file.Files.createTempDirectory("graft_kmvrec").toString
    val st = s"$base/state"
    // batch ranges [0,300), [150,450), [0,450) — every element recurs
    val slices = Seq((0, 300), (150, 450), (0, 450))
    slices.zipWithIndex.foreach { case ((lo, hi), b) =>
      StreamingIngest.sketchIngestBatch(
        ev.where(col("user_id") >= lo && col("user_id") < hi), st, b.toLong)
    }
    def kmvSeq(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val served = kmvSeq(StreamingIngest.kmvSketchFrom(spark, st))
    val batch = kmvSeq(AnalyticsQueries.kmvSketches(ev))
    assert(served.size === AnalyticsQueries.KmvK,
      "450 distinct elements must saturate the bottom-k sketch")
    assert(served.map(_._2).distinct.size === served.size,
      "a KMV sketch must never carry a duplicated hash")
    assert(served === batch,
      "grown KMV state must equal the batch sketch over full history")
    // compaction preserves the fixed sketch
    StreamingIngest.compactSketchState(spark, st)
    assert(kmvSeq(StreamingIngest.kmvSketchFrom(spark, st)) === batch)
  }

  test("streaming keyed merge: grown state == one-shot merge of the compacted log, replay is content-idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.store.{VectorStore, VersionedLayout}
    // three CDC micro-batches; within-batch multi-event keys exercise the
    // per-batch last-writer-wins compaction, cross-batch deletes/reinserts
    // exercise the sequential merge algebra
    val batches: Seq[Seq[(Long, String, Double, String, Long)]] = Seq(
      Seq((1L, "A1", 1.0, "U", 1L), (2L, "A2", 2.0, "U", 2L),
        (3L, "A3-old", 0.0, "U", 3L), (3L, "A3", 3.0, "U", 4L), // same key, later seq wins
        (99L, "-", 0.0, "D", 5L)), // delete of an absent id: no-op
      Seq((6L, "B6", 6.0, "U", 1L), (2L, "-", 0.0, "D", 2L),
        (1L, "B1", 1.5, "U", 3L)),
      Seq((3L, "-", 0.0, "D", 1L), (2L, "C2", 2.5, "U", 2L))) // reinsert after delete
    val base = java.nio.file.Files.createTempDirectory("graft_mergestream").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("id", "category", "value", "op", "seq")
        .coalesce(1).write.parquet(f"$base/in/b$i")
    }
    val schema = batches.head.toDF("id", "category", "value", "op", "seq").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$base/in")
    val root = s"$base/state"
    val q = StreamingIngest.mergeIngest(stream, root, s"$base/ckpt")
    try q.awaitTermination(120000) finally q.stop()
    def state(): Map[Long, (String, Double)] =
      spark.read.parquet(VersionedLayout.currentDir(spark, root).get)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val grown = state()
    assert(grown === Map(1L -> ("B1", 1.5), 2L -> ("C2", 2.5), 6L -> ("B6", 6.0)))
    // parity: one-shot merge of the GLOBALLY compacted event log (last
    // event per id by (batch, seq)) equals the sequentially grown state
    val all = batches.zipWithIndex.flatMap { case (b, i) =>
      b.map { case (id, c, v, op, seq) => (id, c, v, op, i.toLong * 100 + seq) }
    }
    val lastPerId = all.groupBy(_._1).values.map(_.maxBy(_._5)).toSeq
    val oneShotRoot = s"$base/oneshot"
    VectorStore.mergeVersioned(spark, oneShotRoot,
      lastPerId.map { case (id, c, v, op, _) => (id, c, v, op) }
        .toDF("id", "category", "value", "op"))
    val oneShot = spark.read
      .parquet(VersionedLayout.currentDir(spark, oneShotRoot).get)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(oneShot === grown,
      "sequential keyed merges must equal the one-shot merge of the compacted log")
    // a torn publish's leftovers are invisible and cleaned by the next
    // good publish: plant an uncommitted version dir with junk inside
    val torn = s"$root/v99999999"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(torn))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$torn/junk"), "torn")
    assert(state() === grown, "an uncommitted dir must never serve")
    // replay the last batch verbatim: content-idempotent by the merge
    // algebra (a new version lands, values identical)
    StreamingIngest.mergeIngestBatch(
      batches(2).toDF("id", "category", "value", "op", "seq"),
      root, "id", "op", "seq")
    assert(state() === grown, "replaying a batch must not change the state")
    assert(!graft.store.Fs.exists(spark, torn),
      "the next publish must clean torn leftovers")
    // an invalid op fails the batch loudly and commits nothing
    val curBefore = VersionedLayout.currentDir(spark, root)
    val e = intercept[Exception] {
      StreamingIngest.mergeIngestBatch(
        Seq((7L, "X7", 7.0, "UPSERT", 1L)).toDF("id", "category", "value", "op", "seq"),
        root, "id", "op", "seq")
    }
    assert(e.getMessage.contains("unknown merge op"))
    assert(VersionedLayout.currentDir(spark, root) === curBefore,
      "no version may commit from a delta with invalid ops")
    assert(state() === grown)
    // ...even when the invalid op is SHADOWED by a later event for the
    // same key: validation runs on the raw batch, before last-writer-wins
    // compaction can discard the corrupted event
    val e2 = intercept[Exception] {
      StreamingIngest.mergeIngestBatch(
        Seq((8L, "X8", 8.0, "Q", 1L), (8L, "G8", 8.0, "U", 2L))
          .toDF("id", "category", "value", "op", "seq"),
        root, "id", "op", "seq")
    }
    assert(e2.getMessage.contains("unknown merge op"),
      s"a shadowed invalid op must still fail the batch, got: ${e2.getMessage}")
    assert(VersionedLayout.currentDir(spark, root) === curBefore)
    assert(state() === grown)
  }

  test("streaming video fingerprint: accumulated pair log equals the batch pair join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the SHARED MultimodalSpec planted fixture (MediaFixtures): 20 base
    // Y4M clips, each with a frame-0-perturbed near-dup twin; ids
    // interleave across batches so pairs straddle batch boundaries
    val clips = MediaFixtures.plantedVideos.toDF("doc_id", "payload")
    val base = java.nio.file.Files.createTempDirectory("graft_vfpstream").toString
    (0 until 3).foreach(i =>
      clips.where(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(s"$base/in"))
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
    val q = StreamingIngest.videoFpIngest(stream, s"$base/state", s"$base/ckpt")
    try q.awaitTermination(240000) finally q.stop()
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("da", "db", "max_hamming").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = pairs(spark.read.parquet(s"$base/state/pairs"))
    val batch = graft.dedup.Dedup
      .videoNearDupPairs(clips, "doc_id", "payload", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty, "fixture must contain video near-duplicates")
    assert(streamed.exists { case (a, b, _) => a % 3 != b % 3 },
      "no pair straddles a micro-batch boundary")
    // only the delta is ever decoded: hash state has one row per clip
    assert(spark.read.parquet(s"$base/state/hash").count() === clips.count())
    // replay idempotence on the last batch
    val hashState = spark.read.parquet(s"$base/state/hash")
    val lastB = hashState.agg(max(col("batch").cast("long"))).head.getLong(0)
    val lastIds = hashState.where(col("batch") === lastB)
      .select("doc").collect().map(_.getLong(0)).toSet
    val (hashRows, pairRows) = (hashState.count(),
      spark.read.parquet(s"$base/state/pairs").count())
    StreamingIngest.videoFpIngestBatch(
      clips.where(col("doc_id").isInCollection(lastIds)), s"$base/state",
      maxHamming = 3, batchId = lastB)
    assert(spark.read.parquet(s"$base/state/hash").count() === hashRows)
    assert(spark.read.parquet(s"$base/state/pairs").count() === pairRows)
    assert(pairs(spark.read.parquet(s"$base/state/pairs")) === batch,
      "replay must leave the pair set intact")
    // roll-up compaction folds both append-only logs content-identically
    assert(StreamingIngest.compactPhashState(spark, s"$base/state").nonEmpty)
    assert(pairs(spark.read.parquet(s"$base/state/pairs")) === batch,
      "compaction must preserve the pair log")
  }

  test("streaming audio fingerprint: accumulated pair log equals the batch pair join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the SHARED MultimodalSpec planted fixture (MediaFixtures): 20 base
    // clips, each with a sample-nudged near-dup twin; ids interleave
    // across batches so pairs straddle batch boundaries
    val clips = MediaFixtures.plantedClips.toDF("doc_id", "payload")
    val base = java.nio.file.Files.createTempDirectory("graft_afpstream").toString
    (0 until 3).foreach(i =>
      clips.where(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(s"$base/in"))
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
    val q = StreamingIngest.audioFpIngest(stream, s"$base/state", s"$base/ckpt")
    try q.awaitTermination(240000) finally q.stop()
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("da", "db", "hamming").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = pairs(spark.read.parquet(s"$base/state/pairs"))
    val batch = graft.dedup.Dedup
      .audioNearDupPairs(clips, "doc_id", "payload", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty, "fixture must contain audio near-duplicates")
    assert(streamed.exists { case (a, b, _) => a % 3 != b % 3 },
      "no pair straddles a micro-batch boundary")
    // only the delta is ever decoded: hash state has one row per clip
    assert(spark.read.parquet(s"$base/state/hash").count() === clips.count())
    // replay idempotence on the last batch
    val hashState = spark.read.parquet(s"$base/state/hash")
    val lastB = hashState.agg(max(col("batch").cast("long"))).head.getLong(0)
    val lastIds = hashState.where(col("batch") === lastB)
      .select("doc").collect().map(_.getLong(0)).toSet
    val (hashRows, pairRows) = (hashState.count(),
      spark.read.parquet(s"$base/state/pairs").count())
    StreamingIngest.audioFpIngestBatch(
      clips.where(col("doc_id").isInCollection(lastIds)), s"$base/state",
      maxHamming = 3, batchId = lastB)
    assert(spark.read.parquet(s"$base/state/hash").count() === hashRows)
    assert(spark.read.parquet(s"$base/state/pairs").count() === pairRows)
    assert(pairs(spark.read.parquet(s"$base/state/pairs")) === batch,
      "replay must leave the pair set intact")
  }

  test("streaming image phash: accumulated pair log equals the batch pair join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the SHARED MultimodalSpec planted fixture (MediaFixtures): 20 base
    // rasters, each with a 3-byte-perturbed near-dup twin; ids interleave
    // across batches so pairs straddle batch boundaries
    val images = MediaFixtures.plantedRasters.toDF("doc_id", "payload")
    val base = java.nio.file.Files.createTempDirectory("graft_phstream").toString
    (0 until 3).foreach(i =>
      images.where(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(s"$base/in"))
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
    val q = StreamingIngest.imagePhashIngest(stream, s"$base/state", s"$base/ckpt")
    try q.awaitTermination(240000) finally q.stop()
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("da", "db", "hamming").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = pairs(spark.read.parquet(s"$base/state/pairs"))
    val batch = graft.dedup.Dedup
      .imageNearDupPairs(images, "doc_id", "payload", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty, "fixture must contain image near-duplicates")
    // pairs straddle micro-batch boundaries (endpoints in different batches)
    assert(streamed.exists { case (a, b, _) => a % 3 != b % 3 })
    // only the delta is ever hashed: hash state has one row per image
    assert(spark.read.parquet(s"$base/state/hash").count() === images.count())
    // replay idempotence on the last batch
    val hashState = spark.read.parquet(s"$base/state/hash")
    val lastB = hashState.agg(max(col("batch").cast("long"))).head.getLong(0)
    val lastIds = hashState.where(col("batch") === lastB)
      .select("doc").collect().map(_.getLong(0)).toSet
    val (hashRows, pairRows) = (hashState.count(),
      spark.read.parquet(s"$base/state/pairs").count())
    StreamingIngest.imagePhashIngestBatch(
      images.where(col("doc_id").isInCollection(lastIds)), s"$base/state",
      maxHamming = 3, batchId = lastB)
    assert(spark.read.parquet(s"$base/state/hash").count() === hashRows)
    assert(spark.read.parquet(s"$base/state/pairs").count() === pairRows)
    assert(pairs(spark.read.parquet(s"$base/state/pairs")) === batch,
      "replay must leave the pair set intact")
    // roll-up compaction of the append-only hash/pair logs: identical
    // rows over fewer partitions, replay still idempotent afterwards
    val compacted = StreamingIngest.compactPhashState(spark, s"$base/state")
    assert(compacted.size === 2, s"expected both state dirs folded, got $compacted")
    assert(spark.read.parquet(s"$base/state/hash").count() === hashRows)
    assert(pairs(spark.read.parquet(s"$base/state/pairs")) === batch,
      "compaction must preserve the pair log")
    StreamingIngest.imagePhashIngestBatch(
      images.where(col("doc_id").isInCollection(lastIds)), s"$base/state",
      maxHamming = 3, batchId = lastB)
    assert(pairs(spark.read.parquet(s"$base/state/pairs")) === batch,
      "replay after compaction must leave the pair set intact")
  }

  test("minhash ingest refuses a legacy flat (v1) state dir with an actionable error") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_mhlegacy").toString
    // a v1 build's flat signature file directly under sig/
    Seq((1L, 2L)).toDF("doc", "h0").coalesce(1)
      .write.parquet(s"$base/state/sig")
    graft.model.VectorModel.documents(spark, Sf0001).limit(1)
      .write.parquet(s"$base/in")
    val stream = spark.readStream
      .schema(StreamingIngest.DocumentsSchema)
      .parquet(s"$base/in")
    val e = intercept[IllegalArgumentException] {
      StreamingIngest.minhashDedupIngest(stream, s"$base/state", s"$base/ckpt")
    }
    assert(e.getMessage.contains("legacy flat"), e.getMessage)
    assert(e.getMessage.contains("batch=-1") && e.getMessage.contains("fresh statePath"),
      "the error must name the migration options")
  }

  test("streaming minhash dedup: accumulated pair log equals the batch self-join") {
    import org.apache.spark.sql.functions._
    val docs = graft.model.VectorModel.documents(spark, Sf0001)
    val base = java.nio.file.Files.createTempDirectory("graft_mhstream").toString
    // three micro-batches interleaved by id so dup pairs straddle batch
    // boundaries in both directions
    (0 until 3).foreach(i =>
      docs.where(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(s"$base/in"))
    val stream = spark.readStream
      .schema(StreamingIngest.DocumentsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
    val q = StreamingIngest.minhashDedupIngest(
      stream, s"$base/state", s"$base/ckpt")
    try q.awaitTermination(240000) finally q.stop()
    val streamed = spark.read.parquet(s"$base/state/pairs")
      .select("da", "db", "est_jaccard").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.dedup.Dedup.lshCandidatePairs(
        graft.dedup.Dedup.minhashSignatures(docs, "doc_id", "text", 32))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty, "fixture must contain near-duplicates")
    // pairs straddle micro-batch boundaries (endpoints in different batches)
    assert(streamed.exists { case (a, b, _) => a % 3 != b % 3 })
    // at-least-once replay: re-running a batch REWRITES its sig/pairs
    // partitions (idempotent overwrite) — state row counts are unchanged,
    // so the band-join fan-out cannot grow with foreachBatch retries.
    // foreachBatch only ever replays the LAST uncommitted batch (later
    // batches cannot have committed), so that is the scenario replayed.
    val sigRows = spark.read.parquet(s"$base/state/sig").count()
    val pairRows = spark.read.parquet(s"$base/state/pairs").count()
    // replay with the exact rows the stream assigned to the final batch
    // (file→batch order is the checkpoint's business, not the test's)
    val sigState = spark.read.parquet(s"$base/state/sig")
    val lastBatch = sigState.agg(max("batch")).head.getInt(0).toLong
    val lastIds = sigState.where(col("batch") === lastBatch)
      .select("doc").collect().map(_.getLong(0)).toSet
    StreamingIngest.minhashIngestBatch(
      docs.where(col("doc_id").isInCollection(lastIds)), s"$base/state",
      32, 8, 0.5, batchId = lastBatch)
    assert(spark.read.parquet(s"$base/state/sig").count() === sigRows,
      "replayed batch must not grow the signature state")
    assert(spark.read.parquet(s"$base/state/pairs").count() === pairRows,
      "replayed batch must not grow the pair log")
    val replayed = spark.read.parquet(s"$base/state/pairs")
      .select("da", "db", "est_jaccard").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(replayed === batch, "replay must leave the pair set intact")
    // the sig/pairs state has the same batch-partitioned shape as the
    // phash state, so the roll-up compaction composes verbatim
    assert(StreamingIngest.compactBatchState(spark, s"$base/state/sig"))
    assert(StreamingIngest.compactBatchState(spark, s"$base/state/pairs"))
    assert(spark.read.parquet(s"$base/state/sig").count() === sigRows)
    assert(spark.read.parquet(s"$base/state/pairs")
      .select("da", "db", "est_jaccard").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet === batch,
      "compaction must preserve the pair log")
  }

  test("shard manifest compaction: ~100 batches resolve with zero per-batch I/O, byte-identical to the marker walk") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_shardmanifest").toString
    val layout = s"$base/shards"
    val cap = 32
    val docs = graft.model.VectorModel.documents(spark, Sf0001)
      .select("doc_id", "text").orderBy("doc_id").limit(101).cache()
    val ids = docs.collect().map(_.getLong(0))
    def append(i: Int): Unit = StreamingIngest.shardAppendBatch(
      docs.where(col("doc_id") === ids(i)), layout, cap, 1, i.toLong)
    (0 until 100).foreach(append)
    val manifestPath = s"$layout/${StreamingIngest.ShardManifestFile}"
    val (fs, _) = graft.store.Fs.pathFs(spark, layout)
    def rawManifest: String =
      graft.store.Fs.readSidecar(spark, manifestPath).get

    // the manifest-resolved view: all 100 batches, cumulative windows
    val viaManifest = StreamingIngest.completeShardBatches(spark, layout)
    assert(viaManifest.map(_._1) === (0L until 100L))
    viaManifest.foldLeft(0L) { case (expect, (id, _, first, end)) =>
      assert(first === expect, s"batch $id base"); assert(end > first); end
    }
    val goodManifest = rawManifest

    // a TORN manifest (crashed driver mid-write) reads as absent — the
    // marker walk serves the identical view, never a wrong one
    graft.store.Fs.writeSidecar(spark, manifestPath,
      goodManifest.dropRight(3))
    assert(StreamingIngest.completeShardBatches(spark, layout) === viaManifest,
      "torn manifest must fall back to the marker walk")
    // absent manifest (pre-manifest layout): same view via the walk
    fs.delete(new org.apache.hadoop.fs.Path(manifestPath), false)
    assert(StreamingIngest.completeShardBatches(spark, layout) === viaManifest)

    // MIGRATION: the next commit compacts the whole marker history
    append(100)
    assert(StreamingIngest.readShardManifest(spark, layout).get.size === 101,
      "first commit after manifest loss must compact the full history")
    val grown = StreamingIngest.completeShardBatches(spark, layout)
    assert(grown.take(100) === viaManifest && grown.last._1 === 100L)
    val total = grown.last._4

    // replay dedup: state rolled back one commit (the crash-between-
    // manifest-and-state window) → the replay rewrites batch 100 and the
    // manifest keeps exactly one line for it
    graft.store.Fs.writeSidecar(spark, s"$layout/_graft_shard_state",
      s"99 ${grown(99)._4}\n")
    append(100)
    assert(StreamingIngest.readShardManifest(spark, layout).get.size === 101,
      "replayed batch must dedup in the manifest")
    assert(StreamingIngest.readShardState(spark, layout) === ((100L, total)))

    // ZERO per-batch I/O on the steady-state resolve: with every
    // per-batch marker DELETED, the manifest+state pair still serves the
    // full view and point reads — a resolve that touched any batch
    // marker (the pre-compaction shape: two reads × batches) would see
    // nothing. This is stronger than counting round-trips: the per-batch
    // files are not merely unread, they are gone.
    val probe = Seq(0L, total / 2, total - 1)
    val expectWindows = probe.map(g =>
      StreamingIngest.readGlobalWindow(spark, layout, g).toSeq)
    grown.foreach { case (_, dir, _, _) =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$dir/${StreamingIngest.ShardFirstSeqFile}"), false)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_graft_batch_end"), false)
    }
    assert(StreamingIngest.completeShardBatches(spark, layout) === grown)
    assert(probe.map(g =>
      StreamingIngest.readGlobalWindow(spark, layout, g).toSeq) === expectWindows)
    assert(StreamingIngest.readGlobalWindows(spark, layout, probe)
      .map(_.toSeq) === expectWindows)
    assert(StreamingIngest.readShardState(spark, layout) === ((100L, total)))

    // a parseable manifest with NON-CUMULATIVE windows is corruption (a
    // layout rewritten underneath its manifest), not a torn write — loud
    graft.store.Fs.writeSidecar(spark, manifestPath, "0 0 5\n1 7 9\n")
    val e = intercept[IllegalArgumentException](
      StreamingIngest.completeShardBatches(spark, layout))
    assert(e.getMessage.contains("non-cumulative"), e.getMessage)
    docs.unpersist()
  }
}
