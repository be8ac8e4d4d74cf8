package graft.pq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** 1-bit binary quantization (sign bits against a per-dimension midrange
  * threshold) with Hamming-distance candidate generation and exact cosine
  * re-ranking — the third point on the codec accuracy/ratio curve beside
  * PQ (32–64×, trained) and SQ8 (4–8×, near-exact): 32× vs float32 at
  * coarse accuracy, served as a two-stage scan.
  *
  * An extension past the reference (whose only codec is PQ,
  * vervectordb/__init__.py:414-501). The serving shape is the modern
  * binary-first pattern: a popcount scan over packed words picks `rerank`
  * candidates, the exact metric runs only on those.
  *
  * Representation: bit i = 1 iff v_i > (min_i + max_i)/2. The threshold is
  * the MIDRANGE, not the mean, deliberately: min/max are order-independent
  * over doubles, so the fit — and therefore every bit — is bit-exact
  * reproducible across engines and partitionings, which keeps the whole
  * operator hash-gated against the DuckDB oracle (the same argument that
  * makes [[ScalarQuantizer]] hash-gated where k-means PQ is recall-gated).
  * A mean threshold would hang every bit near the mean on float summation
  * order. Bits pack 32 per BIGINT word (`b0..b{W-1}`), shifts stay in
  * [0, 31] and packed values in [0, 2^32), so no sign-bit arithmetic on
  * either engine (DuckDB's list_sum promotes to HUGEINT; values this size
  * cast back to BIGINT losslessly).
  *
  * Scale: encode is one pure expression per word (codegen'd, no UDF);
  * the Hamming scan reads 2 longs/row instead of a 64-float array
  * (a production layout would pack to dim/8-byte fixed binary); the
  * re-rank joins a driver-bounded candidate set (broadcast) back to the
  * vector table. At 100 TB the first stage is the only full scan and it
  * reads ~3% of the vector bytes.
  */
final class BinaryQuantizer(val centers: Array[Double]) extends Serializable {
  val dim: Int = centers.length
  val numWords: Int = (dim + 31) / 32

  /** Pack a query (or any vector) driver-side — the exact mirror of the
    * [[BinaryQuantizer.wordExprs]] executor-side packing. */
  def pack(v: Seq[Double]): Array[Long] = {
    require(v.length == dim, s"pack: expected dim $dim, got ${v.length}")
    val out = new Array[Long](numWords)
    var i = 0
    while (i < dim) {
      if (v(i) > centers(i)) out(i / 32) |= (1L << (i % 32))
      i += 1
    }
    out
  }

  /** One packed-word SQL expression per word over `vecCol` (array of
    * float/double): word w = Σ_b 1<<b over bits whose element exceeds its
    * midrange. Literal thresholds ride in as CAST('…' AS DOUBLE) so the
    * text round-trips the exact double. */
  def wordExprs(vecCol: String): Seq[Column] = (0 until numWords).map { w =>
    val bits = math.min(32, dim - w * 32)
    val cases = (0 until bits).map { b =>
      val i = w * 32 + b
      s"IF(CAST(element_at($vecCol, ${i + 1}) AS DOUBLE) > " +
        s"CAST('${centers(i)}' AS DOUBLE), ${1L << b}L, 0L)"
    }.mkString(" + ")
    expr(s"CAST($cases AS BIGINT)").as(s"b$w")
  }

  /** Hamming distance of stored words `b0..b{W-1}` to the packed query —
    * a popcount-XOR sum, codegen'd. */
  def hammingExpr(qWords: Array[Long]): Column = {
    require(qWords.length == numWords, "hamming: word-count mismatch")
    val terms = qWords.zipWithIndex
      .map { case (qw, i) => s"bit_count(b$i ^ ${qw}L)" }.mkString(" + ")
    expr(s"CAST($terms AS BIGINT)")
  }
}

object BinaryQuantizer {

  /** Fit = the exact per-dim min/max aggregate [[ScalarQuantizer.fit]]
    * already provides; the binary threshold is its midrange. */
  def fit(df: DataFrame, vecCol: String, dim: Int): BinaryQuantizer = {
    val sq = ScalarQuantizer.fit(df, vecCol, dim)
    new BinaryQuantizer(
      Array.tabulate(dim)(i => (sq.mins(i) + sq.maxs(i)) / 2.0))
  }

  /** (id, b0..b{W-1}) code table — the build-once layout the Hamming scan
    * serves from. */
  def encodeDf(df: DataFrame, bq: BinaryQuantizer, vecCol: String,
      idCol: String): DataFrame =
    df.select(col(idCol) +: bq.wordExprs(vecCol): _*)

  /** Two-stage top-k: Hamming top-`rerank` over the stored codes
    * (deterministic (ham asc, id asc) cut), then exact rounded-cosine
    * re-rank over just those ids against the vector table. Output
    * (id, ham, sim) ordered (sim desc, id asc).
    *
    * The re-rank is a PRUNED fetch ([[graft.pq.Pca.topK]]'s argument):
    * the Hamming cut is driver-bounded, so its (id, ham) rows collect,
    * the ids push into the vector scan as `id IN (…)`
    * ([[graft.search.IdFetch]]), and the Hamming distances re-attach
    * from the rebuilt local candidate frame — the exact stage reads row
    * groups proportional to `rerank`, never the corpus. */
  def topK(codes: DataFrame, vecs: DataFrame, bq: BinaryQuantizer,
      query: Seq[Double], k: Int, rerank: Int, idCol: String,
      vecCol: String): DataFrame = {
    val cand = codes
      .select(col(idCol), bq.hammingExpr(bq.pack(query)).as("ham"))
      .orderBy(col("ham").asc, col(idCol).asc)
      .limit(rerank)
    val candRows = cand.collect()
    val candDf = graft.search.IdFetch.localFrame(vecs, candRows, cand.schema)
    graft.search.IdFetch.fetchByIds(vecs, idCol, candRows.map(_.get(0)).toSeq)
      .join(broadcast(candDf), Seq(idCol))
      .select(col(idCol), col("ham"),
        round(graft.functions.VectorFunctions.cosineQuery(col(vecCol), query), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** S4 twin of [[topK]]: ONE Hamming scan serves the whole query set —
    * every query's popcount-XOR sum evaluates in the same projection over
    * the packed words (an array of (query_id, ham) structs, exploded), so
    * the code table is read once per batch instead of once per query, the
    * ADC-batch argument ([[graft.index.IvfPq.batchSearch]]). Per-query
    * candidate cuts use the k-bounded aggregator on (-ham, id) — the same
    * (ham asc, id asc) deterministic cut as the single path — and the
    * re-rank FETCHES the bounded candidate union (ids collected and
    * pushed as `id IN (…)` into the vector scan, the [[topK]] pruning
    * argument) with each query's vector attached via the rebuilt local
    * candidate frame. Output (query_id, id, sim, rn); batch==single
    * parity is BinSpec-gated. */
  def batchTopK(codes: DataFrame, vecs: DataFrame, bq: BinaryQuantizer,
      queries: Seq[(Long, Seq[Double])], k: Int, rerank: Int, idCol: String,
      vecCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = codes.sparkSession
    if (queries.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(
          StructField("query_id", LongType),
          StructField(idCol, LongType),
          StructField("sim", DoubleType),
          StructField("rn", LongType))))
    val hamStructs = array(queries.map { case (qid, q) =>
      struct(lit(qid).as("query_id"), bq.hammingExpr(bq.pack(q)).as("ham"))
    }: _*)
    val scanned = codes
      .select(col(idCol), explode(hamStructs).as("qh"))
      .select(col("qh.query_id").as("query_id"), col(idCol),
        col("qh.ham").as("ham"))
    val cand = graft.operators.TopK.perGroupTopK(
      scanned, "query_id", col(idCol), -col("ham").cast("double"), rerank)
      .select(col("query_id"), col("id").as(idCol))
    val candRows = cand.collect()
    val candDf = graft.search.IdFetch.localFrame(vecs, candRows, cand.schema)
    val qdf = spark.createDataFrame(
      spark.sparkContext.parallelize(queries.map { case (qid, q) => Row(qid, q) }),
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("qvec", ArrayType(DoubleType, containsNull = false),
          nullable = false))))
    val scored = graft.search.IdFetch.fetchByIds(
        vecs, idCol, candRows.map(_.get(1)).distinct.toSeq)
      .join(broadcast(candDf), Seq(idCol))
      .join(broadcast(qdf), "query_id")
      .select(col("query_id"), col(idCol),
        round(graft.GraftExtensions.cosineSim(
          col(vecCol).cast("array<double>"), col("qvec")), 6).as("sim_raw"))
    graft.operators.TopK.perGroupTopK(scored, "query_id", col(idCol),
      col("sim_raw"), k)
      .withColumnRenamed("id", idCol)
  }
}
