package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Learned language identification: hashed char-trigram Naive Bayes →
  * quantized integer weights served as pure closed-form arithmetic — the
  * fastText-shape operator real pipelines run where
  * [[TextAnalysis.langId]] is the marker-count heuristic.
  *
  * The reference's text stack evidences model-based language filtering
  * (fasttext lid shape — `pyproject.toml:7-13`); this is that component
  * re-expressed for Spark with the [[QualityModel]]/[[Dsir]] serving
  * discipline:
  *
  *  - TRAINING (spec-gated, a Bench build step): a planted multilingual
  *    fixture — every sampled document is langified into each of the
  *    [[Langs]] (every 5th token replaced by that language's marker
  *    vocabulary, so the classes share the corpus's content distribution
  *    and differ exactly in the language signal), char-trigram-hashed
  *    into [[D]] buckets, and fit as multinomial Naive Bayes. The count
  *    table is bounded (|Langs|·D rows) so the fit is one aggregate +
  *    driver-side log-smoothing; log/exp NEVER run engine-side — the
  *    driver quantizes `log((c+1)/(total+D))` to 1e-6 fixed point once
  *    per (lang, bucket) and ships the integers.
  *
  *  - SERVING (hash-gated): score_ℓ = Σ_gram count(bucket)·wq[ℓ][bucket]
  *    is an exact integer dot per language; the verdict is the argmax
  *    with the heuristic's fixed tie order ([[Langs]] position, en
  *    first), "und" for docs too short to produce a trigram. Grams read
  *    a BOUNDED [[PrefixChars]]-char prefix (the fastText-style
  *    truncation), so per-doc cost is constant whatever the doc length.
  *    Scoring is per row ([[verdict]]): the |Langs|·D weights ride as
  *    array literals, so there is no join and no shuffle, and the batch
  *    classifier and the streaming gate run the same expression. Class
  *    priors are uniform by construction (the fixture has exactly one row
  *    per language per sampled doc) and cancel in the argmax, so they are
  *    not served. */
object LangIdModel {

  /** Hashed char-trigram buckets — bounded model state per language. */
  val D = 256

  /** Fixed-point weight scale (wq = round(log-prob · Scale)); |wq| stays
    * ≤ ~2^24, so a per-doc per-language Σ count·wq is far inside Long. */
  val Scale = 1e6

  /** Chars of document prefix the classifier reads — constant per-doc
    * serving cost; language signal saturates long before this. */
  val PrefixChars = 256

  /** Character n-gram width. */
  val GramLen = 3

  /** Class order = the heuristic's tie order ([[TextAnalysis.LangMarkers]]:
    * en, de, es, fr, zh) — argmax ties break toward the earlier entry,
    * matching `tx_langid`. */
  val Langs: Seq[String] = TextAnalysis.LangMarkers.map(_._1)

  /** Quantized model: per-language [[D]] bucket weights in 1e-6 fixed
    * point. Serving semantics are defined over these integers, so Spark
    * and the DuckDB oracle agree exactly. */
  case class Model(wq: Map[String, Array[Long]])

  /** Deterministic "translation" used to plant the training fixture. The
    * corpus's own language (en) is the IDENTITY — its class learns the
    * natural text distribution, so real documents score it exactly;
    * foreign classes replace every 5th token (positions 0, 5, 10, …)
    * with their marker vocabulary in round-robin, so each differs from
    * the natural distribution by precisely its language signal. (The
    * earlier all-classes-injected design distorted the en class away
    * from natural text and cost real-corpus agreement — measured 0.62 vs
    * the heuristic; identity-en restores it.) Shared by [[train]] and
    * the held-out spec so fixture semantics cannot drift. */
  def langify(text: Column, lang: String): Column =
    if (lang == Langs.head) text
    else {
      val markers = TextAnalysis.LangMarkers.toMap.apply(lang)
      val marr = array(markers.map(lit): _*)
      concat_ws(" ", transform(TextAnalysis.tokens(text), (t, i) =>
        when(i % 5 === 0,
          element_at(marr, ((i / 5).cast("int") % markers.size) + 1))
          .otherwise(t)))
    }

  /** Char trigrams of the bounded prefix (empty for docs shorter than
    * [[GramLen]] — the `sequence` guard matters: an unguarded
    * `sequence(0, negative)` counts DOWNWARD). */
  def grams(text: Column): Column = {
    val prefix = substring(text, 1, PrefixChars)
    when(length(prefix) >= GramLen,
      transform(sequence(lit(0), length(prefix) - GramLen),
        i => prefix.substr(i + lit(1), lit(GramLen))))
      .otherwise(array().cast("array<string>"))
  }

  /** Feature bucket of one gram — [[Dedup.hash60]] (md5-based, mirrored
    * in SQL) mod [[D]]. */
  def bucket(gram: Column): Column = (Dedup.hash60(gram) % D).cast("int")

  /** Train on `docs` (doc_id, text): the [[QualityModel.trainFilter]]
    * ~75% hash-sample, langified into each language. One bounded
    * aggregate (≤ |Langs|·D rows collected), then driver-side smoothing
    * + quantization. */
  def train(docs: DataFrame): Model = {
    val sample = docs.where(QualityModel.trainFilter(col("doc_id")))
      .select("doc_id", "text")
    val fixture = Langs.map(l =>
        sample.select(lit(l).as("lang"), langify(col("text"), l).as("text")))
      .reduce(_ unionAll _)
    val counts = fixture
      .select(col("lang"), explode(grams(col("text"))).as("g"))
      .select(col("lang"), bucket(col("g")).as("b"))
      .groupBy("lang", "b").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val totals = Langs.map(l =>
      l -> (0 until D).map(b => counts.getOrElse((l, b), 0L)).sum).toMap
    Model(Langs.map { l =>
      l -> Array.tabulate(D) { b =>
        val c = counts.getOrElse((l, b), 0L)
        Math.round(Scale *
          Math.log((c + 1).toDouble / (totals(l) + D).toDouble))
      }
    }.toMap)
  }

  /** One text's verdict under `m`, per row: struct(lang, score), score
    * being the winning class's exact integer dot (one
    * `aggregate(transform(grams))` per language) and the argmax an
    * `array_max` over (score, −rank, lang) structs, so ties break toward
    * the earlier language, the heuristic's convention. A NULL text, or
    * one too short to produce a trigram, verdicts ('und', 0). */
  def verdict(text: Column, m: Model): Column = {
    val gs = grams(text)
    val scored = Langs.zipWithIndex.map { case (l, r) =>
      val wq = typedLit(m.wq(l).toSeq)
      struct(
        aggregate(
          transform(gs, g => element_at(wq, (bucket(g) + 1).cast("int"))),
          lit(0L), (acc, x) => acc + x).as("score"),
        lit(-r).as("nr"), lit(l).as("lang"))
    }
    val best = array_max(array(scored: _*))
    val none = text.isNull || size(gs) === 0
    struct(
      when(none, lit("und")).otherwise(best.getField("lang")).as("lang"),
      when(none, lit(0L)).otherwise(best.getField("score")).as("score"))
  }

  /** Classify `docs` under `m`: (doc_id, lang, score), one row per doc
    * ([[verdict]]). */
  def classify(docs: DataFrame, m: Model): DataFrame =
    docs.select(col("doc_id"), verdict(col("text"), m).as("v"))
      .select(col("doc_id"), col("v.lang").as("lang"), col("v.score").as("score"))
}
