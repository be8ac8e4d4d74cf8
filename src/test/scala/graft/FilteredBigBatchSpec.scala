package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{HnswStore, Ivf, IvfPq, LshAnn}
import graft.model.VectorModel

/** S5 (filtered search) at QUERY-SET scale: the big-batch paths accept a
  * predicate / accepted-id frame and must honor each family's exact
  * filter contract — parity-gated against the equivalent filtered
  * collected path (or the filter-first-on-input formulation that IS the
  * family's contract). Every test also proves the exactness half: no
  * returned row violates the predicate. */
class FilteredBigBatchSpec extends SparkSpec {

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

  test("filtered IVF big-batch == collected batch over the filtered input (filter-first contract)") {
    val (path, model) = queries.ApproxQueries.ivfLayout(spark, Sf0001)
    val clustered = spark.read.parquet(path)
    val qdf = bigQueries(2000, 8, scale = 50.0)
    val pred = pmod(col("id"), lit(2)) === 0
    // filter-first IS the ivf contract (search filters the candidate scan
    // before scoring under every rule), so the filtered big-batch must
    // equal the collected batch run over the pre-filtered layout
    val rule = Ivf.defaultRule(model)
    val big = Ivf.bigBatchSearch(clustered, model, qdf, 3, rule,
      filter = Some(pred))
    val old = Ivf.batchSearch(clustered.where(pred), model, collected(qdf), 3, rule)
    assert(resultSet(big) === resultSet(old))
    assert(resultSet(big).forall(_._2 % 2 == 0))
    // adaptive mode too (same sizes on both sides — probe lists are
    // filter-independent)
    val sizes = queries.ApproxQueries.ivfSizes(spark, Sf0001)
    val bigA = Ivf.bigBatchSearch(clustered, model, qdf, 3, Ivf.Adaptive(sizes),
      filter = Some(pred))
    val oldA = Ivf.batchSearch(clustered.where(pred), model, collected(qdf), 3,
      Ivf.Adaptive(sizes))
    assert(resultSet(bigA) === resultSet(oldA))
  }

  test("filtered IVF-PQ big-batch == filtered collected batch (refine-stage contract)") {
    val (path, model) = queries.ApproxQueries.ivfPqLayout(spark, Sf0001)
    val encoded = spark.read.parquet(path)
    val emb = VectorModel.embeddings(spark, Sf0001)
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val qdf = bigQueries(500, VectorModel.EmbDim, scale = 1.0)
    val pred = pmod(col("vec_id"), lit(2)) === 0
    val big = IvfPq.bigBatchSearch(encoded, model, qdf, 5, Ivf.defaultRule(model.ivf),
      refineFrom = emb, vecCol = "embedding", idCol = "vec_id",
      filter = Some(pred))
    val old = IvfPq.batchSearch(encoded, model, collected(qdf), 5,
      Ivf.defaultRule(model.ivf), refineFrom = emb, vecCol = "embedding", idCol = "vec_id",
      filter = Some(pred))
    assert(resultSet(big) === resultSet(old))
    assert(resultSet(big).forall(_._2 % 2 == 0))
  }

  test("filtered LSH big-batch == big-batch over the payload-filtered layout") {
    val (path, model) = queries.ApproxQueries.lshLayout(spark, Sf0001)
    val sizes = queries.ApproxQueries.lshSizes(spark, Sf0001)
    val layout = spark.read.parquet(path)
    val qdf = bigQueries(2000, VectorModel.EmbDim, scale = 1.0)
    val pred = pmod(col("vec_id"), lit(3)) === 0
    val ids = layout.where(col(LshAnn.TableCol) === 0 && pred).select("vec_id")
    // acceptIds semi-joined into the payload fetch ≡ removing rejected
    // table-0 (payload) rows from the layout: bucket admission is
    // filter-independent, pointers to rejected rows simply fail the fetch
    val rule = LshAnn.Adaptive(sizes, 234)
    val big = LshAnn.bigBatchSearchStored(layout, model, qdf, 3,
      rule, vecCol = "embedding", idCol = "vec_id", acceptIds = Some(ids))
    val old = LshAnn.bigBatchSearchStored(
      layout.where(col(LshAnn.TableCol) > 0 || pred), model, qdf, 3,
      rule, vecCol = "embedding", idCol = "vec_id")
    assert(resultSet(big) === resultSet(old))
    assert(resultSet(big).forall(_._2 % 3 == 0))
  }

  test("filtered routed-HNSW big-batch: accept-all == unfiltered; selective == per-query beam-threaded path") {
    val path = queries.ApproxQueries.hnswRoutedLayout(spark, Sf0001)
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    val qdf = bigQueries(200, 8, scale = 50.0)
    // accept-all: the Bloom admits every id, the beam reduces to the
    // plain search, the exact re-check is a no-op — results identical
    val all = vecs.select("id")
    val bigAll = HnswStore.bigBatchSearch(spark, path, qdf, 3,
      HnswStore.Nearest(4), acceptIds = Some(all), bloomFpp = 1e-9)
    val plain = HnswStore.bigBatchSearch(spark, path, qdf, 3, HnswStore.Nearest(4))
    assert(resultSet(bigAll) === resultSet(plain))
    // selective: per-query parity against the collected beam-threaded
    // filtered path (exact id set) at the same probes/efSearch — fpp 1e-9
    // makes Bloom false positives impossible at this scale, so the beam
    // walks are identical
    val pred = pmod(col("id"), lit(3)) === 0
    val ids = vecs.where(pred).select("id")
    val acceptSet = ids.collect().map(_.getLong(0)).toSet
    val big = HnswStore.bigBatchSearch(spark, path, qdf, 3,
      HnswStore.Nearest(4), acceptIds = Some(ids), bloomFpp = 1e-9)
    assert(resultSet(big).forall(t => acceptSet(t._2)))
    val byQ = big.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    collected(qdf).take(6).foreach { case (qid, q) =>
      val exp = HnswStore.search(spark, path, q, 3, HnswStore.Nearest(4),
        acceptSet.contains)
        .collect().map(_.getLong(0)).toSet
      assert(byQ.getOrElse(qid, Set.empty) === exp,
        s"query $qid: big-batch ${byQ.getOrElse(qid, Set.empty)} vs collected $exp")
    }
  }

  test("routed-HNSW big-batch with a zero-match filter returns empty fast (no component walk)") {
    val path = queries.ApproxQueries.hnswRoutedLayout(spark, Sf0001)
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    val qdf = bigQueries(500, 8, scale = 50.0)
    // nothing qualifies: an empty Bloom would reject every id and each
    // (shard, query) beam would traverse the shard's whole connected
    // component before returning nothing — the guard must short-circuit
    // to an empty frame with the batch schema instead
    val none = vecs.where(col("id") < 0).select("id")
    val out = HnswStore.bigBatchSearch(spark, path, qdf, 3,
      HnswStore.Nearest(4), acceptIds = Some(none))
    assert(out.columns.toSeq === Seq("query_id", "id", "sim", "rn"))
    assert(out.count() === 0L)
  }
}
