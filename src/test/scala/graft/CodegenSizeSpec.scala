package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.index.Ivf
import graft.model.VectorModel
import graft.text.{Pii, TextAnalysis}

/** Every generated method of the dedup, text and IVF big-batch stages stays small enough
  * for HotSpot to JIT-compile ([[SparkSpec.maxCodegenMethodBytes]] against
  * [[SparkSpec.HugeMethodBytes]]): a stage over the limit runs its whole
  * row loop in the bytecode interpreter. */
class CodegenSizeSpec extends SparkSpec {

  private lazy val docs = VectorModel.documents(spark, Sf0001).cache()

  test("the LSH and banded-Jaccard pair stages compile under the JIT's method limit") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text").cache()
    val delta = sig.where(col("doc") % 5 === 0)
    val stages = Seq(
      "lshCandidatePairs" -> Dedup.lshCandidatePairs(sig),
      "lshCandidatePairs skewSalt=8" -> Dedup.lshCandidatePairs(sig, skewSalt = 8),
      "lshIncrementalPairs" -> Dedup.lshIncrementalPairs(delta, sig),
      "ngramJaccardPairsBanded" -> Dedup.ngramJaccardPairsBanded(docs, "doc_id", "text"))
    for ((name, df) <- stages) {
      val bytes = maxCodegenMethodBytes(df)
      info(s"$name: $bytes bytes")
      assert(bytes <= HugeMethodBytes, s"$name: largest generated method $bytes bytes")
    }
    sig.unpersist()
  }

  /** The per-row probe stage of `Ivf.bigBatchSearch` (the one
    * `probe_clusters` walk) under both IVF rules, and the whole serve. */
  private def ivfProbeStages: Seq[(String, () => DataFrame)] = {
    val (path, model) = queries.ApproxQueries.ivfLayout(spark, Sf0001)
    val sizes = queries.ApproxQueries.ivfSizes(spark, Sf0001)
    val qs = VectorModel.partQueriesBig(spark, Sf0001, modulus = 64)
    Seq(Ivf.defaultRule(model), Ivf.Adaptive(sizes)).flatMap { rule =>
      val name = rule.getClass.getSimpleName
      Seq(
        s"Ivf.bigBatchSearch $name probe stage" -> (() => qs.select(col("query_id"),
          explode(rule.column(col("qvec"), model, 3)).as("cluster_id"))),
        s"Ivf.bigBatchSearch $name" -> (() =>
          Ivf.bigBatchSearch(spark.read.parquet(path), model, qs, 3, rule)))
    }
  }

  test("audit: the public Dedup, TextAnalysis and Pii stages stay under the limit, known ones aside") {
    import spark.implicits._
    val t = col("text")
    // measured uncached: a cached equal plan would be served from the cache
    val simhash = "Dedup.simhash" -> maxCodegenMethodBytes(Dedup.simhash(docs, "doc_id", "text"))
    val minhash = "Dedup.minhashSignatures" ->
      maxCodegenMethodBytes(Dedup.minhashSignatures(docs, "doc_id", "text"))
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text").cache()
    val sh = Dedup.simhash(docs, "doc_id", "text").cache()
    val pairs = Dedup.lshCandidatePairs(sig)
    val evalDocs = docs.where(col("doc_id") % 2 === 0)
    // column functions that run inside whole-stage codegen; the rest hold
    // lambda (CodegenFallback) expressions, which keep their stage out of it
    val columns: Seq[(String, Column)] = Seq(
      "Dedup.ngrams" -> Dedup.ngrams(t, 3), "Dedup.shingles" -> Dedup.shingles(t),
      "Dedup.hash60" -> Dedup.hash60(t),
      "TextAnalysis.tokens" -> TextAnalysis.tokens(t),
      "TextAnalysis.tokenCount" -> TextAnalysis.tokenCount(t),
      "TextAnalysis.markerCount" -> TextAnalysis.markerCount(t, TextAnalysis.Stopwords),
      "TextAnalysis.stopwordRatio" -> TextAnalysis.stopwordRatio(t),
      "TextAnalysis.qualityScore" -> TextAnalysis.qualityScore(t),
      "TextAnalysis.langId" -> TextAnalysis.langId(t),
      "TextAnalysis.alphaTokenFraction" -> TextAnalysis.alphaTokenFraction(t),
      "TextAnalysis.topWordFrac" -> TextAnalysis.topWordFrac(t),
      "TextAnalysis.lexTokenCount" -> TextAnalysis.lexTokenCount(t),
      "TextAnalysis.avgTokenLen" -> TextAnalysis.avgTokenLen(t),
      "TextAnalysis.symbolRatio" -> TextAnalysis.symbolRatio(t),
      "TextAnalysis.dupNgramFrac" -> TextAnalysis.dupNgramFrac(t, 3),
      "TextAnalysis.fingerprint" -> TextAnalysis.fingerprint(t),
      "Pii.emailCount" -> Pii.emailCount(t), "Pii.phoneCount" -> Pii.phoneCount(t),
      "Pii.ipv4Count" -> Pii.ipv4Count(t), "Pii.redact" -> Pii.redact(t))
    val frames: Seq[(String, () => DataFrame)] =
      columns.map { case (n, c) => n -> (() => docs.select(col("doc_id"), c.as("out"))) } ++ Seq(
        "TextAnalysis.rollingFingerprint" -> (() =>
          docs.select(col("doc_id"), posexplode(split(t, " ")).as(Seq("pos", "tok")))
            .groupBy("doc_id").agg(sum(TextAnalysis.rollingFingerprint(col("tok"), col("pos"))))),
        "Dedup.exactGroups" -> (() => Dedup.exactGroups(docs, "doc_id", "text")),
        "Dedup.ngramJaccardPairs" -> (() => Dedup.ngramJaccardPairs(docs, "doc_id", "text")),
        "Dedup.ngramJaccardPairsBandedFromSig" -> (() =>
          Dedup.ngramJaccardPairsBandedFromSig(docs, sig, "doc_id", "text")),
        "Dedup.contaminatedDocs" -> (() => Dedup.contaminatedDocs(docs, evalDocs, "doc_id", "text")),
        "Dedup.fuzzyContaminated" -> (() => Dedup.fuzzyContaminated(docs, evalDocs, "doc_id", "text")),
        "Dedup.repeatedNgrams" -> (() => Dedup.repeatedNgrams(docs, "doc_id", "text")),
        "Dedup.spanCoverage" -> (() => Dedup.spanCoverage(docs, "doc_id", "text")),
        "Dedup.spanScrubbedText" -> (() => Dedup.spanScrubbedText(docs, "doc_id", "text")),
        "Dedup.spanMaximalIntervals" -> (() => Dedup.spanMaximalIntervals(docs, "doc_id", "text")),
        "Dedup.simhashPairs" -> (() => Dedup.simhashPairs(sh)),
        "Dedup.simhashIncrementalPairs" -> (() =>
          Dedup.simhashIncrementalPairs(sh.where(col("doc") % 5 === 0), sh)),
        "Dedup.imageNearDupPairs" -> (() => Dedup.imageNearDupPairs(
          MediaFixtures.plantedRasters.toDF("doc_id", "payload"), "doc_id", "payload")),
        "Dedup.audioNearDupPairs" -> (() => Dedup.audioNearDupPairs(
          MediaFixtures.plantedClips.toDF("doc_id", "payload"), "doc_id", "payload")),
        "Dedup.videoNearDupPairs" -> (() => Dedup.videoNearDupPairs(
          MediaFixtures.plantedVideos.toDF("doc_id", "payload"), "doc_id", "payload")),
        "Dedup.connectedComponents" -> (() => Dedup.connectedComponents(docs, "doc_id", pairs)),
        "Dedup.embeddingNearDupPairs" -> (() => Dedup.embeddingNearDupPairs(
          VectorModel.embeddings(spark, Sf0001), "vec_id", "embedding", "label",
          VectorModel.EmbDim, 0.3))) ++ ivfProbeStages
    val sizes = Seq(simhash, minhash) ++ frames.map { case (n, f) => n -> maxCodegenMethodBytes(f()) }
    sizes.foreach { case (n, b) => info(s"$n: $b bytes") }
    val over = sizes.collect { case (n, b) if b > HugeMethodBytes => n }.toSet
    assert(over.isEmpty, s"over $HugeMethodBytes bytes: $over")
    sig.unpersist()
    sh.unpersist()
  }
}
