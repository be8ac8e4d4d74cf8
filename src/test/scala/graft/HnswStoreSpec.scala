package graft

import graft.index.{Hnsw, HnswStore}
import graft.index.HnswStore.{Adaptive, Nearest}
import graft.model.VectorModel

/** Guards on the persisted-HNSW layout: serving must stay CORRECT under any
  * file-split configuration (the complete-graph invariant either holds or
  * the grouping-shuffle fallback engages — never silent partial graphs),
  * and the hyperparameter sidecar must round-trip with the stored graphs
  * serving exactly what a fresh build at those parameters does. */
class HnswStoreSpec extends SparkSpec {

  private def topKPairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("stored serving equals fresh build when files would split (shuffle fallback, not partial graphs)") {
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_split").toString
    HnswStore.save(vecs, s"$dir/g", numPartitions = 4)
    val fresh = topKPairs(Hnsw.hnswTopK(vecs, VectorModel.Query, 10, numPartitions = 4))
    val savedMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val savedOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    try {
      // force every stored file above the computed split size: the unsplit
      // precondition fails and serving must take the grouping shuffle
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      spark.conf.set("spark.sql.files.openCostInBytes", "16")
      val stored = topKPairs(HnswStore.search(spark, s"$dir/g", VectorModel.Query, 10))
      assert(stored === fresh)
      assert(stored.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", savedMax)
      spark.conf.set("spark.sql.files.openCostInBytes", savedOpen)
    }
  }

  test("routed layout: probe filter prunes shard files; results survive deleting every unprobed shard") {
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    // both the serving operating point's shard range and the scaled-up
    // count the DevRoutedSweep measures — the invariance must hold at any
    // shard count, not just the toy one
    for ((numShards, probes) <- Seq((8, 2), (64, 4))) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_hnsw_routed_$numShards").toString
      HnswStore.saveRouted(vecs, s"$dir/g", numShards = numShards)
      val routedDf = HnswStore.search(spark, s"$dir/g", VectorModel.Query, 10, Nearest(probes))
      val routed = topKPairs(routedDf)
      assert(routed.nonEmpty)
      // shard of every stored id, captured BEFORE any files are deleted —
      // drives the non-vacuousness check at the bottom
      val shardOf = spark.read.parquet(s"$dir/g")
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("part"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // the probe filter must land on the layout's PARTITION column — file
      // pruning, not a post-scan filter over all shards
      val plan = routedDf.queryExecution.executedPlan.toString
      assert("""PartitionFilters: \[[^\]]*part""".r.findFirstIn(plan).isDefined,
        "probe filter must appear as a partition filter:\n" + plan.take(3000))
      // all-shards fan-out on the same layout, for contrast below
      val allShards = topKPairs(HnswStore.search(spark, s"$dir/g", VectorModel.Query, 10))
      // file-level proof that routed serving READS only the probed shards:
      // delete every unprobed shard directory; routed results are unchanged
      val model = graft.index.Ivf.IvfModel(
        HnswStore.readRouting(spark, s"$dir/g").get)
      val probed = HnswStore.Nearest(probes).shards(model, VectorModel.Query, 10).get.toSet
      assert(probed.size === probes)
      val (fs, p) = graft.store.Fs.pathFs(spark, s"$dir/g")
      val removed = fs.listStatus(p)
        .filter(_.getPath.getName.startsWith("part="))
        .filterNot(s => probed.contains(s.getPath.getName.stripPrefix("part=").toInt))
      assert(removed.nonEmpty, s"some shards must be unprobed at probes=$probes/$numShards")
      removed.foreach(s => fs.delete(s.getPath, true))
      val routedAfter = topKPairs(
        HnswStore.search(spark, s"$dir/g", VectorModel.Query, 10, Nearest(probes)))
      assert(routedAfter === routed,
        "routed serving must not depend on any unprobed shard's files")
      // sanity: when a deleted shard held one of the all-shards top-k, the
      // all-shards path must now CHANGE (proving the invariance above is
      // not vacuous); with perfect routing (every top-k id lives in a
      // probed shard — the 64-shard config on this structured corpus) the
      // all-shards result legitimately survives too, and the meaningful
      // assertion flips to equality
      val removedParts = removed.map(_.getPath.getName.stripPrefix("part=").toInt).toSet
      val allAfter = topKPairs(HnswStore.search(spark, s"$dir/g", VectorModel.Query, 10))
      if (allShards.exists(t => removedParts.contains(shardOf(t._1))))
        assert(allAfter !== allShards,
          "deleting a shard holding a top-k id must change the all-shards result")
      else assert(allAfter === allShards)
    }
  }

  test("adaptive routed serving survives deleting every shard outside its own probe set") {
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_adapt_inv").toString
    HnswStore.saveRouted(vecs, s"$dir/g", numShards = 64)
    // stats collect from the COMPLETE layout (they are build-time
    // artifacts); serving then depends only on the probed shard files
    val adaptive = Adaptive(HnswStore.routedStats(spark, s"$dir/g"))
    val before = topKPairs(HnswStore.search(
      spark, s"$dir/g", VectorModel.Query, 10, adaptive))
    assert(before.nonEmpty)
    val probed = HnswStore.probedShards(
      spark, s"$dir/g", VectorModel.Query, 10, adaptive).get.toSet
    assert(probed.size < 64)
    val (fs, p) = graft.store.Fs.pathFs(spark, s"$dir/g")
    val removed = fs.listStatus(p)
      .filter(_.getPath.getName.startsWith("part="))
      .filterNot(s => probed.contains(s.getPath.getName.stripPrefix("part=").toInt))
    assert(removed.nonEmpty)
    removed.foreach(s => fs.delete(s.getPath, true))
    assert(topKPairs(HnswStore.search(
      spark, s"$dir/g", VectorModel.Query, 10, adaptive)) === before,
      "adaptive routed serving must not depend on any unprobed shard's files")
  }

  test("filtered traversal: 1%-selective accept set returns full k where 3k-overfetch starves") {
    import org.apache.spark.sql.functions.col
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_filt").toString
    HnswStore.save(vecs, s"$dir/g", numPartitions = 4)
    val accept = vecs.where(col("id") % 100 === 0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(accept.size >= 20, s"fixture needs enough qualifying rows, got ${accept.size}")
    val filtered = HnswStore.search(spark, s"$dir/g", VectorModel.Query, 10,
      accept = accept.contains)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(filtered.length === 10, s"beam-threaded filter must fill k, got ${filtered.length}")
    assert(filtered.forall(t => accept(t._1)))
    // the overfetch shape on the same layout (reference :386): 3k global
    // candidates post-filtered — at 1% selectivity it starves
    val overfetch = HnswStore.search(spark, s"$dir/g", VectorModel.Query, 30)
      .collect().map(_.getLong(0)).count(accept)
    assert(overfetch < 10, s"overfetch should starve, kept $overfetch of 30")
    // quality: the filtered traversal recovers most of the exact filtered top-k
    val exact = graft.search.VectorSearch.bruteForceTopK(
      vecs.where(col("id") % 100 === 0), VectorModel.Query, 10)
      .collect().map(_.getLong(0)).toSet
    val rec = filtered.map(_._1).count(exact).toDouble / exact.size
    assert(rec >= 0.7, s"filtered recall $rec")
  }

  test("routed batch equals per-query routed search") {
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_routed_b").toString
    HnswStore.saveRouted(vecs, s"$dir/g", numShards = 8)
    val queries = (0 until 3).map(s =>
      (s.toLong, Seq(25.0 + s, 30.0, 0.5, 0.5, 0.5, 0.5, 0.5, 1.0 + s)))
    val batch = HnswStore.batchSearch(spark, s"$dir/g", queries, 5, Nearest(3))
      .collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    val single = queries.flatMap { case (qid, q) =>
      HnswStore.search(spark, s"$dir/g", q, 5, Nearest(3))
        .collect().zipWithIndex
        .map { case (r, i) => (qid, (i + 1).toLong, r.getLong(0), r.getDouble(1)) }
    }.sorted.toSeq
    assert(batch === single)
    assert(batch.nonEmpty)
  }

  test("routed + filtered composition: exactly-filtered results from only the probed shards") {
    import org.apache.spark.sql.functions.col
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_rf").toString
    HnswStore.saveRouted(vecs, s"$dir/g", numShards = 8)
    // a ~10%-dense filter: probed shards certainly hold >= k matches
    val accept = vecs.where(col("id") % 10 === 0)
      .select("id").collect().map(_.getLong(0)).toSet
    val res = HnswStore.search(spark, s"$dir/g", VectorModel.Query, 10,
      Nearest(4), accept.contains).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(res.length === 10)
    assert(res.forall(t => accept(t._1)), "every result must satisfy the filter")
    // composition contract: the routed+filtered result equals filtering the
    // probed shards exhaustively — i.e. routing decides WHICH graphs, the
    // threaded predicate is exact within them (compare vs the unrouted
    // filtered search on a layout holding only the probed shards)
    val model = graft.index.Ivf.IvfModel(HnswStore.readRouting(spark, s"$dir/g").get)
    val probed = HnswStore.Nearest(4).shards(model, VectorModel.Query, 10).get.toSet
    val (fs, p) = graft.store.Fs.pathFs(spark, s"$dir/g")
    fs.listStatus(p).filter(_.getPath.getName.startsWith("part="))
      .filterNot(s => probed(s.getPath.getName.stripPrefix("part=").toInt))
      .foreach(s => fs.delete(s.getPath, true))
    val onProbedOnly = HnswStore.search(spark, s"$dir/g", VectorModel.Query, 10,
      accept = accept.contains).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(res.toSeq === onProbedOnly.toSeq)
  }

  test("maintainDelta on a routed root rebuilds ROUTED (sidecar travels through compaction)") {
    import org.apache.spark.sql.functions.col
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_rmd").toString
    val root = s"$dir/groot"
    val base = vecs.where(col("id") % 3 =!= 0)
    HnswStore.saveRoutedVersioned(base, root, numShards = 4)
    // a delta big enough to trip the 20% rebuild threshold
    val deltaPath = s"$dir/delta"
    vecs.where(col("id") % 3 === 0).select("id", "vector")
      .write.parquet(deltaPath)
    val (next, rebuilt) = HnswStore.maintainDelta(spark, root, deltaPath)
    assert(rebuilt)
    assert(HnswStore.readRouting(spark, next).isDefined,
      "compaction must not strip the routing sidecar")
    // the maintained layout serves routed over base ∪ delta
    val res = HnswStore.search(spark, next, VectorModel.Query, 10, Nearest(2))
      .collect()
    assert(res.length === 10)
  }

  test("streamed delta over a routed root: graph leg routes, delta winner still surfaces") {
    import org.apache.spark.sql.functions._
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_sdr").toString
    val root = s"$dir/groot"
    HnswStore.saveRoutedVersioned(vecs, root, numShards = 4)
    val current = HnswStore.currentGraph(spark, root)
    // plant a delta row that is the exact query vector: it must win rank 1
    // through the merge even though no graph holds it
    val planted = 999999999L
    spark.range(1).select(lit(planted).as("id"),
      array(VectorModel.Query.map(lit): _*).as("vector"))
      .write.parquet(s"$dir/delta")
    val res = graft.streaming.StreamingIngest.hnswDeltaSearch(
      spark, current, s"$dir/delta", VectorModel.Query, 5).collect()
    assert(res.length === 5)
    assert(res.head.getLong(0) === planted, "delta row identical to the query must rank first")
  }

  test("derived shard policy: count tracks corpus size at build and through rebuilds") {
    import org.apache.spark.sql.functions.col
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    val base = vecs.where(col("id") % 3 =!= 0)
    val nBase = base.count()
    val nAll = vecs.count()
    val target = 100 // spec-scale target so derivation clears the floor
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_derived").toString

    // HASH layout: derived count = max(floor, ceil(n/target)), recorded
    // with its target; rows per shard bounded near the target
    HnswStore.save(base, s"$dir/g", targetRows = target)
    val wantBase = HnswStore.derivedShards(nBase, target)
    assert(wantBase.toLong === math.max(32L, (nBase + target - 1) / target))
    assert(HnswStore.readMeta(spark, s"$dir/g").map(_._3) === Some(wantBase))
    assert(HnswStore.readTargetRows(spark, s"$dir/g") === Some(target))
    val perShard = spark.read.parquet(s"$dir/g")
      .groupBy("part").count().collect().map(_.getLong(1))
    assert(perShard.length === wantBase)
    assert(perShard.max <= 2L * target,
      s"hash-sharded rows/shard must stay near the target, max=${perShard.max}")

    // REBUILD re-derives at the grown corpus: versioned root + a delta
    // that trips compaction → the next version's count tracks nAll, the
    // target survives in its meta, and serving equals a fresh derived
    // build over the same rows
    val root = s"$dir/groot"
    HnswStore.saveVersioned(base, root, targetRows = target)
    vecs.where(col("id") % 3 === 0).select("id", "vector")
      .write.parquet(s"$dir/delta")
    val (next, rebuilt) = HnswStore.maintainDelta(spark, root, s"$dir/delta")
    assert(rebuilt)
    val wantAll = HnswStore.derivedShards(nAll, target)
    assert(wantAll > wantBase, "the grown corpus must derive more shards")
    assert(HnswStore.readMeta(spark, next).map(_._3) === Some(wantAll),
      "rebuild must re-derive the shard count from the grown corpus")
    assert(HnswStore.readTargetRows(spark, next) === Some(target),
      "the derived policy must survive the rebuild")
    HnswStore.save(vecs, s"$dir/fresh", targetRows = target)
    assert(topKPairs(HnswStore.search(spark, next, VectorModel.Query, 10)) ===
      topKPairs(HnswStore.search(spark, s"$dir/fresh", VectorModel.Query, 10)))

    // ROUTED layout: same policy, routing sidecar sized to the derived
    // count, and an explicitly-pinned layout's rebuild keeps its pin
    HnswStore.saveRouted(base, s"$dir/r", targetRows = target)
    assert(HnswStore.readMeta(spark, s"$dir/r").map(_._3) === Some(wantBase))
    assert(HnswStore.readRouting(spark, s"$dir/r").map(_.length) === Some(wantBase))
    val pinRoot = s"$dir/pinroot"
    HnswStore.saveRoutedVersioned(base, pinRoot, numShards = 4)
    assert(HnswStore.readTargetRows(spark,
      HnswStore.currentGraph(spark, pinRoot)) === None)
    vecs.where(col("id") % 3 === 0).select("id", "vector")
      .write.parquet(s"$dir/delta2")
    val (nextPin, rebuiltPin) = HnswStore.maintainDelta(spark, pinRoot, s"$dir/delta2")
    assert(rebuiltPin)
    assert(HnswStore.readMeta(spark, nextPin).map(_._3) === Some(4),
      "an explicitly-pinned layout's rebuild must preserve the pin")
  }

  test("hyperparameter sidecar round-trips and governs serving over caller defaults") {
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_meta").toString
    HnswStore.save(vecs, s"$dir/g", m = 24, efConstruction = 120, numPartitions = 4)
    assert(HnswStore.readMeta(spark, s"$dir/g") === Some((24, 120, 4)))
    // the stored graphs, built at non-default parameters, serve exactly
    // what a fresh build at those parameters does
    val stored = topKPairs(HnswStore.search(spark, s"$dir/g", VectorModel.Query, 10))
    val fresh = topKPairs(Hnsw.hnswTopK(vecs, VectorModel.Query, 10,
      m = 24, efConstruction = 120, numPartitions = 4))
    assert(stored === fresh)
  }
}
