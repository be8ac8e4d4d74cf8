package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.api.VectorDb
import graft.index.Ivf

/** Single-query serving binds the query (and IVF's probe set) as one
  * array literal, so a session of queries compiles its plan once and every
  * later query reuses it from the codegen cache; HNSW serves from graphs
  * restored once, without a scan; and the zero-norm query scores 0.0 like
  * the reference (vervectordb/__init__.py:31-36). */
class ServeCodegenSpec extends SparkSpec {

  private val Dim = 32

  /** 2000 rows around 8 well-separated centres, so different queries fall
    * into different IVF probe sets. */
  private lazy val db: VectorDb = {
    val rng = new java.util.Random(5)
    val centres = Array.fill(8)(Array.fill(Dim)(rng.nextGaussian() * 10))
    val d = new VectorDb(spark, Dim)
    d.batchInsert((0 until 2000).map { i =>
      (centres(i % 8).toSeq.map(_ + rng.nextGaussian()), Map.empty[String, String])
    })
    d.buildIvfIndex()
    d
  }

  private def query(seed: Long): Seq[Double] = {
    val rng = new java.util.Random(seed)
    Seq.fill(Dim)(rng.nextGaussian())
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("bruteForceSearch compiles no new classes for a new query") {
    db.bruteForceSearch(query(1), 10).collect()
    val after = compiles
    db.bruteForceSearch(query(2), 10).collect()
    db.bruteForceSearch(query(3), 10).collect()
    assert(compiles === after, "a new query must reuse the compiled plan")
  }

  test("ivfSearch compiles no new classes for a new probe set") {
    // the facade's model, refitted with its deterministic defaults
    val (assigned, model) = Ivf.fit(db.toDf, "vector", 16, 42L)
    val qs = Seq(11L, 12L, 13L).map(query)
    val probeSets = qs.map(q => Ivf.defaultRule(model).probes(model, q, 10).toSet)
    assert(probeSets.distinct.size === 3, "the queries must probe different clusters")
    db.ivfSearch(qs(0), 10).collect()
    val after = compiles
    db.ivfSearch(qs(1), 10).collect()
    db.ivfSearch(qs(2), 10).collect()
    assert(compiles === after, "a new probe set must reuse the compiled plan")
    // the candidate-mass rule changes only the probe list, so it too
    // reuses the plan across probe sets of different lengths
    val adaptive = Ivf.Adaptive(Ivf.clusterSizes(assigned))
    val adaptiveSets = qs.map(q => adaptive.probes(model, q, 10).toSet)
    assert(adaptiveSets.distinct.size === 3, "the queries must probe different clusters")
    Ivf.search(assigned, model, qs(0), 10, adaptive).collect()
    val warm = compiles
    Ivf.search(assigned, model, qs(1), 10, adaptive).collect()
    Ivf.search(assigned, model, qs(2), 10, adaptive).collect()
    assert(compiles === warm, "a new adaptive probe set must reuse the compiled plan")
  }

  test("the brute-force sim projection is a handful of expression nodes") {
    val plan = db.bruteForceSearch(query(4), 10).queryExecution.optimizedPlan
    val sims = plan.collect { case p: Project => p.projectList.filter(_.name == "sim") }.flatten
    assert(sims.nonEmpty, plan.treeString)
    val nodes = sims.head.collect { case e => e }.size
    assert(nodes < 50, s"sim projection has $nodes expression nodes:\n${sims.head}")
  }

  test("bruteForceSearch serves in a session without the cosine_sim function") {
    val bare = spark.newSession()
    bare.sql("DROP TEMPORARY FUNCTION cosine_sim")
    assert(!bare.catalog.functionExists("cosine_sim"))
    val d = new VectorDb(bare, 4)
    d.batchInsert(Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))
      .map(v => (v, Map.empty[String, String])))
    val top = d.bruteForceSearch(Seq(1.0, 0.0, 0.0, 0.0), 1).collect()
    assert(top.map(r => (r.getAs[Long]("id"), r.getAs[Double]("sim"))).toSeq === Seq((0L, 1.0)))
  }

  test("a zero-norm query scores 0.0 on every row, ties by ascending id") {
    val zero = Seq.fill(Dim)(0.0)
    val brute = db.bruteForceSearch(zero, 10).collect()
    assert(brute.map(_.getAs[Double]("sim")).toSeq === Seq.fill(10)(0.0))
    assert(brute.map(_.getAs[Long]("id")).toSeq === (0L until 10L))
    val ivf = db.ivfSearch(zero, 10).collect()
    assert(ivf.map(_.getAs[Double]("sim")).toSeq === Seq.fill(10)(0.0))
    val ids = ivf.map(_.getAs[Long]("id")).toSeq
    assert(ids.size === 10 && ids === ids.sorted && ids.distinct === ids)
  }

  test("a warm routed hnswSearch runs one job, scans no file and compiles nothing") {
    val d = new VectorDb(spark, Dim)
    d.batchInsert(db.toDf.collect().sortBy(_.getLong(0)).toSeq
      .map(r => (r.getSeq[Double](1), Map.empty[String, String])))
    d.buildHnswIndex(numPartitions = 8, routed = true)
    d.hnswSearch(query(21), 10).collect() // warm-up: restores the graphs
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(jobs += 1)
    }
    val before = compiles
    spark.sparkContext.addSparkListener(listener)
    try {
      for (seed <- Seq(22L, 23L)) {
        val df = d.hnswSearch(query(seed), 10)
        val scans = df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
        assert(scans.isEmpty, df.queryExecution.executedPlan.treeString)
        assert(df.collect().length === 10)
      }
      org.apache.spark.grafttest.ListenerBridge.waitUntilEmpty(spark.sparkContext, 30000)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(listener.synchronized(jobs) === 2, "one job per warm query")
    assert(compiles === before, "a warm query must reuse the compiled plan")
  }
}
