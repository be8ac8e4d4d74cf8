package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{HnswStore, Ivf, LshAnn}
import graft.model.VectorModel

/** Parity gates for the DataFrame-native big-batch ANN serving paths:
  * a 10k-query DataFrame served WITHOUT any driver/broadcast
  * materialization of the query set must return exactly what the
  * collected batch path returns for the same queries. (The test itself
  * collects the queries once — to feed the OLD path; the big-batch path
  * under test only ever sees the DataFrame.) */
class BigBatchSpec extends SparkSpec {

  val NQueries = 10000

  /** Deterministic distributed query set: ids 0..n-1, component j of
    * query i is a fixed rational of (i, j) — generated by expressions,
    * never collected by the path under test. */
  private def bigQueries(n: Int, dim: Int, scale: Double): DataFrame =
    spark.range(n).select(
      col("id").as("query_id"),
      array((0 until dim).map(j =>
        pmod(col("id") * (j * 7 + 3) + j * 13 + 1, lit(101)).cast("double")
          / 101.0 * scale): _*).as("qvec"))

  private def resultSet(df: DataFrame): Set[(Long, Long, Double, Long)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

  private def collected(qdf: DataFrame): Seq[(Long, Seq[Double])] =
    qdf.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq

  test("IVF big-batch (queries as DataFrame) equals the collected batch path") {
    val (path, model) = queries.ApproxQueries.ivfLayout(spark, Sf0001)
    val clustered = spark.read.parquet(path)
    val qdf = bigQueries(NQueries, 8, scale = 50.0)
    val big = Ivf.bigBatchSearch(clustered, model, qdf, 3, Ivf.defaultRule(model))
    val old = Ivf.batchSearch(clustered, model, collected(qdf), 3, Ivf.defaultRule(model))
    assert(resultSet(big) === resultSet(old))
  }

  test("ADAPTIVE IVF big-batch equals the collected adaptive path (per-row candidate-mass probes)") {
    val (path, model) = queries.ApproxQueries.ivfLayout(spark, Sf0001)
    val sizes = queries.ApproxQueries.ivfSizes(spark, Sf0001)
    val clustered = spark.read.parquet(path)
    val qdf = bigQueries(NQueries, 8, scale = 50.0)
    val big = Ivf.bigBatchSearch(clustered, model, qdf, 3, Ivf.Adaptive(sizes))
    val old = Ivf.batchSearch(clustered, model, collected(qdf), 3, Ivf.Adaptive(sizes))
    assert(resultSet(big) === resultSet(old))
  }

  test("routed HNSW big-batch (queries as DataFrame) equals the collected path") {
    val path = queries.ApproxQueries.hnswRoutedLayout(spark, Sf0001)
    val qdf = bigQueries(NQueries, 8, scale = 50.0)
    val big = HnswStore.bigBatchSearch(spark, path, qdf, 3, HnswStore.Nearest(4))
    val old = HnswStore.batchSearch(spark, path, collected(qdf), 3,
      HnswStore.Nearest(4))
    assert(resultSet(big) === resultSet(old))
  }

  test("ADAPTIVE routed HNSW big-batch equals the collected margin-walk path") {
    val path = queries.ApproxQueries.hnswRoutedLayout(spark, Sf0001)
    val stats = queries.ApproxQueries.routedStats(spark, Sf0001)
    val qdf = bigQueries(NQueries, 8, scale = 50.0)
    // the registered entry's mode: the per-row margin walk over the
    // routing sidecar + shard stats vs the same walk on the driver
    val big = HnswStore.bigBatchSearch(spark, path, qdf, 3,
      HnswStore.Adaptive(stats))
    val old = HnswStore.batchSearch(spark, path, collected(qdf), 3,
      HnswStore.Adaptive(stats))
    assert(resultSet(big) === resultSet(old))
  }

  test("IVF-PQ big-batch (LUT-free direct ADC) equals the collected LUT path") {
    val (path, model) = queries.ApproxQueries.ivfPqLayout(spark, Sf0001)
    val encoded = spark.read.parquet(path)
    val emb = VectorModel.embeddings(spark, Sf0001)
      .withColumn("embedding", col("embedding").cast("array<double>"))
    // 10k queries is the brute parity scale for the cheap paths; the PQ
    // refine joins make this one heavier per query, so gate the same
    // property at 2k (still far past any collectable API batch)
    val qdf = bigQueries(2000, VectorModel.EmbDim, scale = 1.0)
    val fixed = Ivf.defaultRule(model.ivf)
    val big = graft.index.IvfPq.bigBatchSearch(encoded, model, qdf, 5, fixed,
      refineFrom = emb, vecCol = "embedding", idCol = "vec_id")
    val old = graft.index.IvfPq.batchSearch(encoded, model, collected(qdf), 5, fixed,
      refineFrom = emb, vecCol = "embedding", idCol = "vec_id")
    assert(resultSet(big) === resultSet(old))
    // the ADAPTIVE branch too — the mode the registered entry serves with
    val sizes = Ivf.clusterSizes(encoded)
    val bigA = graft.index.IvfPq.bigBatchSearch(encoded, model, qdf, 5, Ivf.Adaptive(sizes),
      refineFrom = emb, vecCol = "embedding", idCol = "vec_id")
    val oldA = graft.index.IvfPq.batchSearch(encoded, model, collected(qdf), 5,
      Ivf.Adaptive(sizes), refineFrom = emb, vecCol = "embedding", idCol = "vec_id")
    assert(resultSet(bigA) === resultSet(oldA))
  }

  test("LSH big-batch (queries as DataFrame) equals the collected own-bucket path") {
    val (path, model) = queries.ApproxQueries.lshLayout(spark, Sf0001)
    val layout = spark.read.parquet(path)
    val qdf = bigQueries(NQueries, VectorModel.EmbDim, scale = 1.0)
    val big = LshAnn.bigBatchSearchStored(layout, model, qdf, 3,
      LshAnn.Directed(1), vecCol = "embedding", idCol = "vec_id")
    val old = LshAnn.batchSearchStored(layout, model, collected(qdf), 3,
      LshAnn.Directed(1), vecCol = "embedding", idCol = "vec_id")
    assert(resultSet(big) === resultSet(old))
  }

  test("ADAPTIVE LSH big-batch equals the collected margin-directed adaptive path") {
    val (path, model) = queries.ApproxQueries.lshLayout(spark, Sf0001)
    val sizes = queries.ApproxQueries.lshSizes(spark, Sf0001)
    val layout = spark.read.parquet(path)
    val qdf = bigQueries(NQueries, VectorModel.EmbDim, scale = 1.0)
    // the registered entry's operating point: the margin-ranked walk under
    // a candidate-mass budget, per row in codegen vs on the driver for the
    // collected path — one rule must yield identical probe sets, hence
    // identical results
    val rule = LshAnn.Adaptive(sizes, 234)
    val big = LshAnn.bigBatchSearchStored(layout, model, qdf, 3,
      rule, vecCol = "embedding", idCol = "vec_id")
    val old = LshAnn.batchSearchStored(layout, model, collected(qdf), 3,
      rule, vecCol = "embedding", idCol = "vec_id")
    assert(resultSet(big) === resultSet(old))
  }
}
