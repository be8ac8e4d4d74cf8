package graft

import org.apache.spark.sql.functions._

import graft.index.Ivf
import graft.model.VectorModel
import graft.queries.AnalyticsQueries
import graft.search.VectorSearch

/** Physical-plan assertions — the 100 TB design invariants: top-k must not
  * global-sort, filters must reach the scan, small dims must broadcast,
  * cluster probes must prune partitions, scans must prune columns. */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    // other suites may have cached identical logical plans in this shared
    // session; clear so the physical plan shows the real parquet scan
    spark.catalog.clearCache()
    df.queryExecution.executedPlan.toString
  }

  test("brute-force top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan(VectorSearch.bruteForceTopK(
      VectorModel.lineitemVectors(spark, Sf0001), VectorModel.Query, 10))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), "top-k must not global-sort")
  }

  test("metadata filter is pushed down to the parquet scan") {
    val df = VectorSearch.bruteForceTopK(
      VectorModel.lineitemVectors(spark, Sf0001), VectorModel.Query, 10,
      Some(col("category") === "R"))
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]")
      || p.contains("EqualTo(l_returnflag,R)"), p.take(3000))
  }

  test("scan prunes to only the referenced columns") {
    val df = VectorModel.lineitemVectors(spark, Sf0001).select("id", "category")
    val p = plan(df)
    assert(!p.contains("l_shipdate"), "unused column must not be read:\n" + p.take(2000))
  }

  test("q3 join broadcasts the filtered customer dimension") {
    val p = plan(AnalyticsQueries.q3JoinTopK(spark, Sf0001))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("IVF probe over the clustered layout prunes partitions at the source") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val (assigned, model) = Ivf.fit(VectorModel.lineitemVectors(spark, Sf0001))
    Ivf.saveClustered(assigned, s"$dir/t")
    val reread = spark.read.parquet(s"$dir/t")
    val probes = Ivf.Nearest(8).probes(model, VectorModel.Query, 10)
    val probed = reread.where(col("cluster_id").isin(probes: _*))
    val scan = probed.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cluster_id"),
      "probe filter must prune cluster partitions:\n" + scan.take(2000))
    // pruned scan must read fewer files than the full table has partitions
    val totalClusters = assigned.select("cluster_id").distinct().count()
    assert(probes.size < totalClusters)
  }

  test("IVF search binds its probe set as a partition filter of a reread clustered layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_serve").toString
    val (assigned, model) = Ivf.fit(VectorModel.lineitemVectors(spark, Sf0001))
    Ivf.saveClustered(assigned, s"$dir/t")
    val served = Ivf.search(spark.read.parquet(s"$dir/t"), model, VectorModel.Query, 10,
      Ivf.defaultRule(model))
    val scan = served.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cluster_id"),
      "probe filter must prune cluster partitions:\n" + scan.take(2000))
  }

  test("bucketed tables join without any shuffle exchange") {
    import graft.store.VectorStore
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    VectorStore.saveBucketed(vecs.select("id", "category"), "bt_left", "id")
    VectorStore.saveBucketed(vecs.select("id", "status"), "bt_right", "id")
    val joined = spark.table("bt_left").join(spark.table("bt_right"), "id")
    val withoutBroadcast = joined.hint("merge")
    withoutBroadcast.count()
    val p = withoutBroadcast.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      "bucketed join must not shuffle:\n" + p.take(3000))
  }

  test("point lookup on a bucketed table prunes to a single bucket") {
    import graft.store.VectorStore
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    VectorStore.saveBucketed(vecs.select("id", "category"), "bt_prune", "id")
    val someId = spark.table("bt_prune").orderBy("id").limit(1)
      .collect()(0).getLong(0)
    // autoBucketedScan drops the bucketed layout when no join/agg needs the
    // distribution — turn it off so the bucket-filter pruning path plans
    withConf("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false") {
      val p = spark.table("bt_prune").where(col("id") === someId)
        .queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount: 1 out of"),
        "id-equality must prune to one bucket:\n" + p.take(3000))
    }
  }

  private def withConf(key: String, value: String)(body: => Unit): Unit = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("vq_get_by_id serves from the sorted layout with a pushed id filter") {
    val df = graft.queries.VectorQueries.getById(spark, Sf0001)
    val p = plan(df)
    assert(p.contains("EqualTo(id,"),
      "point lookup must push the id equality into the scan:\n" + p.take(3000))
    assert(!p.contains("TakeOrderedAndProject"),
      "point lookup must not sort-scan the table:\n" + p.take(3000))
  }

  test("IVF-PQ serving prunes cluster partitions of the code layout") {
    import graft.index.IvfPq
    val emb = VectorModel.embeddings(spark, Sf0001)
    val (encoded, model) = IvfPq.build(emb, VectorModel.EmbDim,
      vecCol = "embedding", idCol = "vec_id")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_plan").toString
    Ivf.saveClustered(encoded, s"$dir/t")
    val layout = spark.read.parquet(s"$dir/t")
    val served = IvfPq.search(layout, model, VectorModel.AnnQuery, 10,
      Ivf.defaultRule(model.ivf), refineFrom = None, idCol = "vec_id")
    val scan = served.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cluster_id"),
      "ADC scan must prune cluster partitions:\n" + scan.take(2000))
    // the ADC scorer is the per-row inner loop of the serving path: it must
    // be a native expression inside whole-stage codegen, not a ScalaUDF
    val full = served.queryExecution.executedPlan.toString
    assert(!full.contains("UDF"),
      "IVF-PQ serving plan must not contain a UDF node:\n" + full.take(3000))
  }

  test("IVF assign / probe / PQ encode-decode plans are UDF-free and codegen'd") {
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    val (assigned, model) = Ivf.fit(vecs)
    assigned.collect() // finalize THIS dataset's AQE plan so codegen spans are visible
    val pa = assigned.queryExecution.executedPlan.toString
    assert(!pa.contains("UDF"),
      "nearest-centroid assignment must be a native expression:\n" + pa.take(3000))
    assert(pa.contains("*("), "assignment projection must be codegen'd:\n" + pa.take(2000))
    val pk = plan(Ivf.knnJoin(vecs, model, k = 3))
    assert(!pk.contains("UDF"),
      "knn-join probe explosion must be a native expression:\n" + pk.take(3000))
    val pq = graft.pq.ProductQuantizer.train(
      VectorModel.embeddings(spark, Sf0001), "embedding", "vec_id", VectorModel.EmbDim)
    val enc = graft.pq.ProductQuantizer.encodeDf(
      VectorModel.embeddings(spark, Sf0001), pq, "embedding")
    val pe = plan(graft.pq.ProductQuantizer.decodeDf(enc, pq))
    assert(!pe.contains("UDF"),
      "PQ encode/decode must be native expressions:\n" + pe.take(3000))
    val pd = plan(graft.pq.ProductQuantizer.adcTopK(enc, pq, VectorModel.AnnQuery, 10, "vec_id"))
    assert(!pd.contains("UDF"),
      "ADC top-k must be a native expression:\n" + pd.take(3000))
  }

  test("BM25 ranks via TakeOrderedAndProject, no global sort") {
    val p = plan(graft.text.Bm25.topK(
      VectorModel.documents(spark, Sf0001), Seq("vector", "spark"), 10))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("Exchange rangepartitioning"), "top-k must not global-sort")
  }

  test("vocab and repeated-span audits rank via TakeOrderedAndProject, no global sort") {
    val pv = plan(graft.queries.TextQueries.vocab(spark, Sf0001))
    assert(pv.contains("TakeOrderedAndProject"), pv.take(2000))
    assert(!pv.contains("Exchange rangepartitioning"), "vocab top-k must not global-sort")
    val pr = plan(graft.queries.DedupQueries.repeatedNgrams(spark, Sf0001))
    assert(pr.contains("TakeOrderedAndProject"), pr.take(2000))
    assert(!pr.contains("Exchange rangepartitioning"), "span audit must not global-sort")
  }

  test("whole-stage codegen covers the similarity expression") {
    val df = VectorSearch.bruteForceTopK(
      VectorModel.lineitemVectors(spark, Sf0001), VectorModel.Query, 10)
    // '*(n)' prefixes mark operators fused into a WholeStageCodegen stage
    val p = plan(df)
    assert(p.contains("*(1) Project") || p.contains("*(1) ColumnarToRow"), p.take(2000))
  }
}
