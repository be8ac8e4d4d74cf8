package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Learned n-gram language-model perplexity scoring — the CCNet shape
  * (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data"): fit a bigram LM on a CLEAN REFERENCE
  * slice, score every corpus document by its cross-entropy under that
  * model (nats per token), and gate on the score — low-perplexity docs
  * read like the reference, high-perplexity docs are garbled/off-domain.
  * The learned complement of [[graft.queries.TextQueries.bigramRarity]]
  * (whose rarity is measured against the CORPUS'S OWN bigram counts —
  * self-referential, so a corpus of uniform garbage scores itself
  * fluent); this model imports a quality standard from outside the
  * corpus, which is what CCNet's Wikipedia-trained KenLM actually does.
  *
  * Exactness contract (the [[Dsir]] pattern): bigram buckets are hashed
  * to [[B]]² states so model state is bounded whatever the vocabulary;
  * the add-one-smoothed negative log-probs are computed ONCE on the
  * driver from the bounded count table, quantized to 1e-6-nat fixed
  * point, and published as sidecars — no engine evaluates ln(); the
  * per-doc score is an exact Long sum of quantized weights; the final
  * nats-per-bigram is ONE correctly-rounded division. Hash-gateable,
  * unlike any libm-scored LM.
  *
  * Scale shape: fit = one bounded ≤[[B]]²-row aggregate over the
  * reference slice (tiny by definition); serving is per row, one fused
  * kernel over the text ([[graft.functions.ModelExpressions.lmScore]]:
  * the pair table rides as a reference object), so there is no join and
  * no shuffle, and the batch scorer and the streaming gate run the same
  * expression. Nothing corpus-sized is collected or broadcast.
  */
object NgramLm {

  /** Hashed token buckets per position — [[B]]² bigram states. Salted
    * independently of [[Dsir]]/[[QualityModel]] so bucket collisions are
    * uncorrelated across the three learned gates. 4096 (vs the gates'
    * 256): a perplexity model's signal is per-TOKEN likelihood, which
    * bucket collisions blur directly (measured en-vs-rest separation
    * doubles from 256), and its state is still bounded — the ctx sidecar
    * is B rows and the pair sidecar is capped at min(reference-slice
    * distinct bigrams, B²). The honest worst case: B² = 16.7M rows
    * ≈ 270 MB collected once at fit and broadcast at serve — the size of
    * a small KenLM, heavy but routine for a model an entire 100 TB
    * curation run amortizes; a corpus whose reference slice saturates it
    * should drop B or shard the weight join. */
  val B = 4096

  /** Fixed-point scale for the quantized negative log-probs (1e-6 nats). */
  val Scale = 1e6

  /** Feature bucket of one token: salted md5-60 mod [[B]], mirrored in
    * SQL as ('0x'||substr(md5('lm:'||tok),1,15))::BIGINT % B. */
  def bucket(tok: Column): Column =
    (Dedup.hash60(concat(lit("lm:"), tok)) % B).cast("int")

  /** Quantized model: seen-pair nll weights keyed (b1, b2) and the
    * per-context default for unseen pairs (add-one mass), both in
    * 1e-6-nat fixed point. */
  case class Model(pairs: Map[(Int, Int), Long], ctxDefault: Array[Long])

  /** Fit on the reference slice: bounded (b1, b2) counts, then driver-side
    * add-one smoothing over the [[B]]-bucket next-token vocabulary —
    * p(b2|b1) = (c(b1,b2)+1)/(c(b1·)+B) — quantized to [[Scale]]. Seen
    * pairs publish their weight; every context publishes its unseen-pair
    * default −ln(1/(c(b1·)+B)) = ln(c(b1·)+B). Docs under two tokens
    * contribute nothing (guarded like [[graft.queries.TextQueries.
    * bigramRarity]] — ngrams' sequence() is descending there). */
  def fit(reference: DataFrame): Model = {
    val counts = reference
      .where(size(TextAnalysis.tokens(col("text"))) >= 2)
      .select(explode(Dedup.ngrams(col("text"), 2)).as("g"))
      .select(
        bucket(element_at(split(col("g"), " "), 1)).as("b1"),
        bucket(element_at(split(col("g"), " "), 2)).as("b2"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val ctxTotals = counts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val pairs = counts.map { case ((b1, b2), c) =>
      (b1, b2) -> Math.round(
        -math.log((c + 1L).toDouble / (ctxTotals(b1) + B).toDouble) * Scale)
    }
    val ctxDefault = Array.tabulate(B) { b1 =>
      Math.round(math.log((ctxTotals.getOrElse(b1, 0L) + B).toDouble) * Scale)
    }
    Model(pairs, ctxDefault)
  }

  /** Per-doc cross-entropy: (doc_id, n_bigrams, nll_q, nats), one row
    * per doc, with nll_q the exact fixed-point Long sum of the doc's
    * bigram weights ([[graft.functions.ModelExpressions.lmScore]]), and
    * nats derived INTEGER-FIRST: micro-nats = nll_q div n (exact integer
    * division — the fixed-point mean), then nats = micro/10⁶, one
    * correctly-rounded division of an exactly-representable integer — NO
    * round() anywhere. A direct round(nll_q/(n·10⁶), 6) looks equivalent
    * but is not mirrorable: the quotient lands EXACTLY on 7th-digit ties
    * (integer over n·10⁶), where Spark rounds half-up and DuckDB
    * half-even — measured off-by-one-ulp disagreements at sf0.1. Docs
    * without bigrams (NULL, empty or one-token text) carry the
    * empty-product (0, 0, 0.0) — no evidence either way, the
    * [[Dsir.z]] convention. */
  def score(docs: DataFrame, m: Model): DataFrame = {
    val s = coalesce(graft.functions.ModelExpressions.lmScore(col("text"), m),
      typedLit(Seq(0L, 0L)))
    docs.select(col("doc_id"), s.as("_s"))
      .select(col("doc_id"),
        element_at(col("_s"), 1).as("n_bigrams"),
        element_at(col("_s"), 2).as("nll_q"))
      .withColumn("nats",
        when(col("n_bigrams") === 0L, lit(0.0))
          .otherwise(expr("nll_q div n_bigrams").cast("double") / lit(Scale)))
  }
}
