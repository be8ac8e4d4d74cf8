package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Domain-matching data selection by importance resampling — the DSIR
  * shape (Xie et al. 2023, "Data Selection for Language Models via
  * Importance Resampling"): score every raw-corpus document by the
  * log-likelihood ratio of a TARGET-domain unigram model over the
  * raw-corpus unigram model (both over hashed token buckets, so model
  * state is bounded at [[B]] rows whatever the vocabulary), then resample
  * with acceptance probability exp(min(0, score)) — target-like documents
  * pass, off-domain documents are kept at their importance ratio. The
  * missing curation primitive next to the learned quality gate
  * ([[QualityModel]]) and the temperature/epoch mixes: those reweight by
  * SOURCE or per-doc quality, this upsamples toward a DOMAIN the caller
  * only has a sample of (the reference's evidenced embed/curation intent,
  * vervectordb pyproject.toml:7-13).
  *
  * Exactness contract (what makes the entry hash-gateable): every
  * engine-side step is integer —
  *  - the hashed-bucket counts are exact integer aggregates;
  *  - the per-bucket smoothed LLR weights are computed ONCE on the driver
  *    from those bounded counts, quantized to 1e-6 fixed point
  *    ([[Scale]]), and published as data (the [[QualityModel]] sidecar
  *    pattern) — no engine ever evaluates ln();
  *  - the per-doc score is an exact Long sum of quantized weights;
  *  - acceptance maps the score to one of [[Levels]]+1 discrete levels
  *    (integer clamp + integer division) and compares an md5-derived
  *    60-bit uniform against a PRECOMPUTED integer threshold
  *    floor(2^60·exp(−level·[[LevelNats]])) — the exp() lives on the
  *    driver at fit time, shipped as a 257-row table, so both engines do
  *    only integer compares. Level 0 (score ≥ 0) accepts always; the
  *    last level rejects always (acceptance there would be < e^−16).
  *
  * Scale shape: fit = two [[B]]-row aggregates (one over the target
  * sample — tiny by definition — one over the corpus, map-side
  * combinable); serving is per row ([[z]]): the [[B]] weights and the
  * 257 thresholds ride as array literals, so there is no join, no
  * shuffle and no state, and the batch decisions and the streaming gate
  * run the same expressions. Nothing corpus-sized is collected.
  */
object Dsir {

  /** Hashed token buckets — bounded model state, like [[QualityModel.D]].
    * Salted independently of the quality model's feature hash so the two
    * gates' bucket collisions are uncorrelated. */
  val B = 256

  /** Fixed-point scale for the LLR weights (1e-6 nats/unit). */
  val Scale = 1e6

  /** Acceptance-level width in nats (1/16) and its fixed-point twin. */
  val LevelNats = 0.0625
  val LevelQ: Long = Math.round(LevelNats * Scale) // 62500

  /** Discrete acceptance levels; past [[Levels]]·[[LevelNats]] = 16 nats
    * below the cap the acceptance probability is < e^−16 ≈ 1.1e-7 and
    * the table's final row rejects outright. */
  val Levels = 256

  /** Salt for the per-doc acceptance uniform (independent of the mix
    * machinery's salt — composing DSIR with a mix must not reuse
    * coin flips). */
  val AcceptSalt = ":graft-dsir:v1"

  /** Feature bucket of one token: salted md5-60 mod [[B]], mirrored in
    * SQL as ('0x'||substr(md5('dsir:'||tok),1,15))::BIGINT % B. */
  def bucket(tok: Column): Column =
    (Dedup.hash60(concat(lit("dsir:"), tok)) % B).cast("int")

  /** Quantized model: per-bucket fixed-point LLR weights (size [[B]])
    * and the integer acceptance thresholds (size [[Levels]]+1). */
  case class Model(wq: Array[Long], thr: Array[Long])

  /** Per-bucket token counts of `docs` — one bounded aggregate. */
  private def bucketCounts(docs: DataFrame): Map[Int, Long] =
    docs.select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .select(bucket(col("tok")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Fit the importance model: add-one-smoothed unigram bucket
    * distributions of the target sample and the raw corpus, per-bucket
    * LLR quantized to [[Scale]] fixed point, plus the acceptance table.
    * Driver arithmetic only touches the two bounded count maps. */
  def fit(corpus: DataFrame, target: DataFrame): Model = {
    val tc = bucketCounts(target)
    val cc = bucketCounts(corpus)
    val tTot = (tc.values.sum + B).toDouble
    val cTot = (cc.values.sum + B).toDouble
    val wq = Array.tabulate(B) { b =>
      val lr = math.log((tc.getOrElse(b, 0L) + 1L) / tTot) -
        math.log((cc.getOrElse(b, 0L) + 1L) / cTot)
      Math.round(lr * Scale)
    }
    val thr = Array.tabulate(Levels + 1) { l =>
      if (l >= Levels) 0L
      else math.floor(math.exp(-l * LevelNats) * (1L << 60).toDouble).toLong
    }
    Model(wq, thr)
  }

  /** One text's importance score, per row: z = Σ_tok wq[bucket] in fixed
    * point — the log importance weight of the document under the two
    * unigram models, times [[Scale]]. A NULL text scores the
    * empty-product 0 (neither target evidence nor counter-evidence). */
  def z(text: Column, m: Model): Column = {
    val wq = typedLit(m.wq.toSeq)
    coalesce(
      aggregate(
        transform(TextAnalysis.tokens(text), t => element_at(wq, (bucket(t) + 1).cast("int"))),
        lit(0L), (acc, x) => acc + x),
      lit(0L))
  }

  /** Per-doc importance scores: (doc_id, z), one row per doc. */
  def score(docs: DataFrame, m: Model): DataFrame =
    docs.select(col("doc_id"), z(col("text"), m).as("z"))

  /** Acceptance decisions: (doc_id, z, level, kept 0/1). level =
    * min(⌊max(0, −z)/[[LevelQ]]⌋, [[Levels]]) — integer on both engines
    * (the clamp keeps the division non-negative, where truncation and
    * floor agree) — and kept iff the doc's salted md5-60 uniform is
    * under the level's precomputed threshold. */
  def decisions(docs: DataFrame, m: Model): DataFrame = {
    val thr = typedLit(m.thr.toSeq)
    val u = Dedup.hash60(concat(col("doc_id").cast("string"), lit(AcceptSalt)))
    score(docs, m)
      .withColumn("level",
        least(expr(s"greatest(0L, -z) DIV $LevelQ"), lit(Levels.toLong)))
      .select(col("doc_id"), col("z"), col("level"),
        when(u < element_at(thr, (col("level") + 1).cast("int")), 1L)
          .otherwise(0L).as("kept"))
  }
}
