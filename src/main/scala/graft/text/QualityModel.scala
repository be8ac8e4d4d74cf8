package graft.text

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Learned document-quality classifier: hashed unigram term-frequency
  * features → logistic regression → fixed-point weights served as pure
  * closed-form arithmetic.
  *
  * The reference's text stack evidences a model-based quality gate
  * (fasttext/CCNet shape — `pyproject.toml:7-13`); this is that component
  * re-expressed for Spark:
  *
  *  - TRAINING (spec-gated, a Bench build step): a planted labeled
  *    fixture — every sampled document is a positive, its reversed text a
  *    negative (same length/token-count statistics, disjoint hashed
  *    vocabulary, so the model must learn CONTENT buckets, not length
  *    proxies) — hashed into [[D]] term-frequency buckets and fit with
  *    seeded-data MLlib logistic regression. Training reads a
  *    deterministic ~75% hash-sample ([[trainFilter]]); the held-out 25%
  *    gates generalization in QualityModelSpec. At 100 TB the sample
  *    filter is the knob: the labeled set is a bounded scan, never the
  *    corpus.
  *
  *  - SERVING (hash-gated): the trained weights are quantized to 1e-6
  *    fixed point ([[Model]]), so the serving logit
  *    `(bq + (Σ_token wq[bucket(tok)]) / n_tokens) / 1e6` is an exact
  *    integer sum followed by three IEEE double ops in a fixed order —
  *    bit-identically mirrored in DuckDB from the published weight
  *    sidecar (the SQ8/PQ-ADC two-step oracle pattern). Scoring is per
  *    row ([[logit]]): the [[D]] weights (bounded model state) ride as an
  *    array literal, so there is no join and no shuffle, and the batch
  *    scorer and the streaming gate run the same expression. */
object QualityModel {

  /** Hashed feature buckets. Bounded model state: the weight table is D
    * rows regardless of corpus size. */
  val D = 256

  /** Fixed-point weight scale: wq = round(w * Scale). 1e-6 resolution
    * keeps |wq| ≤ ~2^35 for any plausible weight, so a per-document
    * Σ count·wq stays far inside Long. */
  val Scale = 1e6

  /** Quantized model: bucket weights (size [[D]]) + intercept, both in
    * 1e-6 fixed point. The SERVING semantics are defined over these
    * integers, so Spark and the DuckDB oracle agree exactly. */
  case class Model(wq: Array[Long], bq: Long)

  /** Feature bucket of one token — [[Dedup.hash60]] (md5-based, mirrored
    * in SQL as ('0x'||substr(md5(tok),1,15))::BIGINT) mod [[D]]. */
  def bucket(tok: Column): Column = (Dedup.hash60(tok) % D).cast("int")

  /** Deterministic ~75% training sample; the complement is the held-out
    * generalization gate. Hash-keyed (not modulo doc_id) so the split is
    * uncorrelated with any id-derived attribute. */
  def trainFilter(docId: Column): Column =
    Dedup.hash60(concat(lit("qmtrain:"), docId.cast("string"))) % 4 < 3

  /** Train on `docs` (doc_id, text): positives = sampled texts,
    * negatives = their reversed texts. Returns the quantized model. */
  def train(docs: DataFrame): Model = {
    val spark = docs.sparkSession
    val sample = docs.where(trainFilter(col("doc_id"))).select("doc_id", "text")
    val labeled = sample.select(col("doc_id"), col("text"), lit(1.0).as("label"))
      .unionAll(sample.select(col("doc_id"), reverse(col("text")).as("text"), lit(0.0).as("label")))
    val perBucket = labeled
      .withColumn("n", TextAnalysis.tokenCount(col("text")).cast("double"))
      .select(col("doc_id"), col("label"), col("n"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .withColumn("b", bucket(col("tok")))
      .groupBy("doc_id", "label", "n", "b").count()
    val rows = perBucket.groupBy("doc_id", "label", "n")
      .agg(collect_list(struct(col("b"), col("count"))).as("bc"))
    val data = rows.select("label", "n", "bc").rdd.map { r =>
      val label = r.getDouble(0)
      val n = r.getDouble(1)
      val bc = r.getSeq[org.apache.spark.sql.Row](2)
        .map(x => (x.getInt(0), x.getLong(1).toDouble / n))
        .sortBy(_._1)
      (label, Vectors.sparse(D, bc.map(_._1).toArray, bc.map(_._2).toArray))
    }
    val train = spark.createDataFrame(data).toDF("label", "features")
    // L2-regularized so the separable fixture cannot blow the weights up;
    // standardization off so coefficients live in raw tf space (what the
    // quantized serving arithmetic applies)
    val lr = new LogisticRegression()
      .setMaxIter(100).setRegParam(1e-3).setStandardization(false)
    val fit = lr.fit(train)
    Model(fit.coefficients.toArray.map(w => Math.round(w * Scale)),
      Math.round(fit.intercept * Scale))
  }

  /** The serving logit of one text under `m`, per row:
    * `(bq + dot/n) / Scale` in that association, where `dot` is the exact
    * integer sum of the text's token weights and `n` its token count.
    * NULL on a NULL text. */
  def logit(text: Column, m: Model): Column = {
    val wq = typedLit(m.wq.toSeq)
    val dot = aggregate(
      transform(TextAnalysis.tokens(text), t => element_at(wq, (bucket(t) + 1).cast("int"))),
      lit(0L), (acc, x) => acc + x)
    (lit(m.bq).cast("double") + dot.cast("double") /
      TextAnalysis.tokenCount(text).cast("double")) / lit(Scale)
  }

  /** Score `docs` under `m`: (doc_id, logit, is_quality 0/1), one row per
    * doc with a text (NULL-text docs have no tokens to score and are
    * dropped). The logit is NOT rounded: every op in the chain (exact
    * BIGINT sum, two correctly-rounded casts, division, addition,
    * division) is bit-identical across engines, whereas round-to-6
    * half-boundary behavior is not — the raw double IS the comparable
    * value. */
  def score(docs: DataFrame, m: Model): DataFrame = {
    val l = logit(col("text"), m)
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), l.as("logit"),
        when(l > 0.0, 1L).otherwise(0L).as("is_quality"))
  }
}
