package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Late-interaction (ColBERT-style) retrieval: a document is a BAG of
  * vectors (one per chunk/token span), a query is a small SET of vectors,
  * and score(doc) = Σ_q max_{c ∈ doc} cosine(q, c) — each query facet
  * matches its best span, so multi-aspect queries rank documents no single
  * pooled vector can.
  *
  * An extension past the reference (single-vector cosine only,
  * vervectordb/__init__.py:26-44); the semantics follow the published
  * MaxSim operator.
  *
  * Scale shape: one pass over the chunk-vector table computing |Q| fused
  * cosine expressions per row (codegen'd, no join — the query vectors ride
  * as literals), then ONE partial-aggregating shuffle keyed by doc
  * (max per facet is map-side combined, so the exchange carries one row
  * per (doc × task), not per chunk), then a TakeOrderedAndProject k-cut.
  * The facet maxes land as |Q| columns and the final score is their
  * LEFT-ASSOCIATED sum — max is order-independent over doubles and the
  * pinned addition order keeps the operator hash-gated against the DuckDB
  * mirror (a float `sum()` aggregate over facets would not be).
  */
object MaxSim {

  /** Top-`k` docs of `chunkVecs` (one row per chunk: doc id + vector) by
    * MaxSim against `queryVecs`, scored as described above; output
    * (id, maxsim) ordered (maxsim desc, id asc). */
  def topK(chunkVecs: DataFrame, queryVecs: Seq[Seq[Double]], k: Int,
      idCol: String, vecCol: String): DataFrame = {
    require(queryVecs.nonEmpty, "maxsim: need at least one query vector")
    val sims = chunkVecs.select(
      col(idCol) +: queryVecs.zipWithIndex.map { case (q, i) =>
        VectorFunctions.cosineQuery(col(vecCol), q).as(s"s$i")
      }: _*)
    val aggs = queryVecs.indices.map(i => max(col(s"s$i")).as(s"m$i"))
    val maxes = sims.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
    val score = queryVecs.indices.map(i => col(s"m$i")).reduceLeft(_ + _)
    maxes.select(col(idCol), round(score, 6).as("maxsim"))
      .orderBy(col("maxsim").desc, col(idCol).asc)
      .limit(k)
  }
}
