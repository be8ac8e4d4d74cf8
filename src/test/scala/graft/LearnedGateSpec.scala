package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.{Dsir, LangIdModel, NgramLm, QualityModel, TextAnalysis}

/** Each learned curation gate scores per row through one Column scorer
  * ([[QualityModel.logit]], [[Dsir.z]], the LM kernel
  * [[graft.functions.ModelExpressions.lmScore]], [[LangIdModel.verdict]]);
  * the batch scorers and the streaming gates both select it. This spec
  * keeps the batch scorers that scorer replaced (explode the tokens,
  * broadcast-join the weights, group by `doc_id`, left-join back; below
  * as they were) as the reference, and checks that each gate gives the
  * reference's rows on the sf0.001 documents and on edge rows: a NULL,
  * an empty, a one-token and a shorter-than-trigram text. */
class LearnedGateSpec extends SparkSpec {

  // ---- the reference scorers ------------------------------------------

  private object Reference {

    def qualityScore(docs: DataFrame, m: QualityModel.Model): DataFrame = {
      val spark = docs.sparkSession
      import spark.implicits._
      val w = broadcast(
        m.wq.toSeq.zipWithIndex.map { case (wq, b) => (b, wq) }.toDF("b", "wq"))
      val raw = docs
        .withColumn("n", TextAnalysis.tokenCount(col("text")))
        .select(col("doc_id"), col("n"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .withColumn("b", QualityModel.bucket(col("tok")))
        .join(w, "b")
        .groupBy("doc_id", "n").agg(sum("wq").as("dot"))
      val logit = (lit(m.bq).cast("double") + col("dot").cast("double") /
        col("n").cast("double")) / lit(QualityModel.Scale)
      raw.select(col("doc_id"),
        logit.as("logit"),
        when(logit > 0.0, 1L).otherwise(0L).as("is_quality"))
        .orderBy("doc_id")
    }

    def dsirScore(docs: DataFrame, m: Dsir.Model): DataFrame = {
      val spark = docs.sparkSession
      import spark.implicits._
      val w = broadcast(
        m.wq.toSeq.zipWithIndex.map { case (wq, b) => (b, wq) }.toDF("b", "wq"))
      val sums = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .withColumn("b", Dsir.bucket(col("tok")))
        .join(w, "b")
        .groupBy("doc_id").agg(sum("wq").as("z"))
      docs.select("doc_id").join(sums, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("z"), lit(0L)).as("z"))
    }

    def dsirDecisions(docs: DataFrame, m: Dsir.Model): DataFrame = {
      val spark = docs.sparkSession
      import spark.implicits._
      val thr = broadcast(
        m.thr.toSeq.zipWithIndex.map { case (t, l) => (l.toLong, t) }.toDF("level", "thr"))
      dsirScore(docs, m)
        .withColumn("level",
          least(expr(s"greatest(0L, -z) DIV ${Dsir.LevelQ}"), lit(Dsir.Levels.toLong)))
        .join(thr, "level")
        .withColumn("u", Dedup.hash60(
          concat(col("doc_id").cast("string"), lit(Dsir.AcceptSalt))))
        .select(col("doc_id"), col("z"), col("level"),
          when(col("u") < col("thr"), 1L).otherwise(0L).as("kept"))
    }

    private def bucketBigrams(docs: DataFrame): DataFrame =
      docs
        .where(size(TextAnalysis.tokens(col("text"))) >= 2)
        .select(col("doc_id"), explode(Dedup.ngrams(col("text"), 2)).as("g"))
        .select(col("doc_id"),
          NgramLm.bucket(element_at(split(col("g"), " "), 1)).as("b1"),
          NgramLm.bucket(element_at(split(col("g"), " "), 2)).as("b2"))

    def lmScore(docs: DataFrame, m: NgramLm.Model): DataFrame = {
      val spark = docs.sparkSession
      import spark.implicits._
      val w = broadcast(m.pairs.toSeq.map { case ((b1, b2), q) => (b1, b2, q) }
        .toDF("b1", "b2", "wq"))
      val d = broadcast(m.ctxDefault.toSeq.zipWithIndex
        .map { case (q, b1) => (b1, q) }.toDF("b1", "defq"))
      val sums = bucketBigrams(docs)
        .join(w, Seq("b1", "b2"), "left")
        .join(d, Seq("b1"))
        .select(col("doc_id"), coalesce(col("wq"), col("defq")).as("q"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("q").as("nll_q"))
      docs.select("doc_id").join(sums, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("nll_q"), lit(0L)).as("nll_q"))
        .withColumn("nats",
          when(col("n_bigrams") === 0L, lit(0.0))
            .otherwise(expr("nll_q div n_bigrams").cast("double") / lit(NgramLm.Scale)))
    }

    def langIdClassify(docs: DataFrame, m: LangIdModel.Model): DataFrame = {
      val spark = docs.sparkSession
      import spark.implicits._
      val w = broadcast(
        (for { (l, r) <- LangIdModel.Langs.zipWithIndex; b <- 0 until LangIdModel.D }
          yield (b, l, r, m.wq(l)(b))).toDF("b", "lang", "rank", "wq"))
      val cnt = docs
        .select(col("doc_id"), explode(LangIdModel.grams(col("text"))).as("g"))
        .select(col("doc_id"), LangIdModel.bucket(col("g")).as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
      val scored = cnt.join(w, "b")
        .groupBy("doc_id", "lang", "rank")
        .agg(sum(col("cnt") * col("wq")).as("score"))
      val best = scored.groupBy("doc_id")
        .agg(max(struct(col("score"), (-col("rank")).as("nr"),
          col("lang"))).as("m"))
        .select(col("doc_id"), col("m.lang").as("lang"),
          col("m.score").as("score"))
      docs.select("doc_id").join(best, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("lang"), lit("und")).as("lang"),
          coalesce(col("score"), lit(0L)).as("score"))
    }
  }

  // ---- fixtures ---------------------------------------------------------

  private lazy val documents = graft.model.VectorModel.documents(spark, Sf0001)
  private lazy val docs = documents.select("doc_id", "text")

  /** NULL, empty, one-token, shorter-than-trigram, two-token and
    * ordinary texts, under ids no corpus row uses. */
  private lazy val edges = {
    import spark.implicits._
    Seq((-1L, null.asInstanceOf[String]), (-2L, ""), (-3L, "single"), (-4L, "ab"),
      (-5L, "the vector"), (-6L, "a quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getLong(0))

  /** `got` equals `want` on the corpus and on the edge rows. */
  private def sameRows(gate: String)(got: DataFrame => DataFrame,
      want: DataFrame => DataFrame): Unit =
    for ((name, in) <- Seq("sf0.001" -> docs, "edges" -> edges)) {
      val (g, w) = (rows(got(in)), rows(want(in)))
      assert(g === w, s"$gate on $name")
      assert(g.nonEmpty, s"$gate on $name")
    }

  // ---- the gates --------------------------------------------------------

  test("QualityModel.score equals the explode/join scorer; NULL text is dropped") {
    val m = QualityModel.train(docs)
    sameRows("quality")(QualityModel.score(_, m), Reference.qualityScore(_, m))
    assert(!rows(QualityModel.score(edges, m)).exists(_.getLong(0) == -1L))
    assert(rows(graft.streaming.StreamingIngest.qualityGateStream(edges, m)) ===
      rows(Reference.qualityScore(edges, m)))
  }

  test("Dsir.score and Dsir.decisions equal the explode/join scorer") {
    val m = Dsir.fit(documents,
      documents.where(col("source") === graft.queries.PipelineQueries.DsirTargetSource))
    sameRows("dsir score")(Dsir.score(_, m), Reference.dsirScore(_, m))
    sameRows("dsir decisions")(Dsir.decisions(_, m), Reference.dsirDecisions(_, m))
    assert(rows(Dsir.score(edges, m)).find(_.getLong(0) == -1L).map(_.getLong(1)) === Some(0L))
  }

  test("NgramLm.score equals the explode/join scorer; no-bigram texts score (0, 0, 0.0)") {
    val m = NgramLm.fit(
      documents.where(col("lang") === graft.queries.TextQueries.LmReferenceLang))
    sameRows("lm")(NgramLm.score(_, m), Reference.lmScore(_, m))
    val noBigrams = rows(NgramLm.score(edges, m)).filter(r => Set(-1L, -2L, -3L, -4L)(r.getLong(0)))
    assert(noBigrams.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))) ===
      Seq.fill(4)((0L, 0L, 0.0)))
  }

  test("LangIdModel.classify equals the explode/join classifier; short texts are 'und'") {
    val m = LangIdModel.train(documents)
    sameRows("langid")(LangIdModel.classify(_, m), Reference.langIdClassify(_, m))
    val short = rows(LangIdModel.classify(edges, m)).filter(r => Set(-1L, -2L, -4L)(r.getLong(0)))
    assert(short.map(r => (r.getString(1), r.getLong(2))) === Seq.fill(3)(("und", 0L)))
  }
}
