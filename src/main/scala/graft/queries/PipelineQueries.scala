package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.index.Ivf
import graft.model.VectorModel
import graft.text.TextAnalysis

/** The composed training-data cleaning pipeline — the end-to-end shape the
  * individual operators exist for: exact dedup (keep first copy) → quality
  * floor → language filter. One oracle-backed query proves the operators
  * compose without semantic drift.
  *
  * Pipeline order matters at scale: exact dedup first (cheapest shuffle,
  * biggest row reduction on crawl data), then pure-expression filters
  * (no shuffle at all), leaving fuzzy dedup/embedding stages the smallest
  * candidate set. */
object PipelineQueries {

  val QualityFloor = 0.5

  def cleanCorpus(spark: SparkSession, dir: String): DataFrame =
    cleanCorpusFrom(VectorModel.documents(spark, dir))

  /** [[cleanCorpus]] over ANY documents-shaped frame — the same pipeline
    * body serves the parquet table and an acquisition ingest (e.g. a
    * WARC crawl parsed through [[graft.sources.WarcSource]], WarcSpec's
    * end-to-end gate). */
  def cleanCorpusFrom(docs: DataFrame): DataFrame = {
    val keepers = Dedup.exactGroups(docs, "doc_id", "text").select(col("keeper").as("doc_id"))
    docs
      .join(keepers, Seq("doc_id"), "left_semi")
      .where(TextAnalysis.qualityScore(col("text")) >= QualityFloor)
      .where(TextAnalysis.langId(col("text")) === "en")
      .select(
        col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Shared DuckDB oracle fragments — the quality formula, sampling
    * decision, near-dup component CTEs, and distinct-gram CTE each exist
    * ONCE here, so the composed pipeline oracles cannot drift from the
    * single-stage ones they nest. */
  private val DuckNTok = "CAST(len(string_split(text, ' ')) AS DOUBLE)"

  private def duckMarkerCount(markers: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), t -> t IN (${markers.map(m => s"'$m'").mkString(", ")})))"

  /** [[duckQuality]] for sibling query modules (the quality-keeper
    * oracle) — one formula, no drift. */
  private[queries] lazy val duckQualitySql: String = duckQuality

  private lazy val duckQuality: String = {
    val stopRatio = s"CAST(${duckMarkerCount(TextAnalysis.Stopwords)} AS DOUBLE) / $DuckNTok"
    val lenFactor = s"least($DuckNTok / CAST('100.0' AS DOUBLE), CAST('1.0' AS DOUBLE))"
    s"(CAST('1.0' AS DOUBLE) - $stopRatio) * $lenFactor"
  }

  private lazy val duckBucket: String =
    "CASE " + SampleBuckets.map { case (l, b) => s"WHEN lang = '$l' THEN $b" }.mkString(" ") +
      s" ELSE $DefaultBucket END"

  private val DuckSampleHash =
    "('0x'||substr(md5(lang||':'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000"

  private lazy val duckComponentCtes: String =
    s"""pairs AS (${DedupQueries.ngramJaccardCappedSql}),
       |edges AS (SELECT da AS src, db AS dst FROM pairs
       |          UNION ALL SELECT db AS src, da AS dst FROM pairs),
       |reach(doc, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT reach.doc, e.dst FROM reach JOIN edges e ON reach.r = e.src),
       |comp AS (SELECT doc, min(r) AS component FROM reach GROUP BY doc)""".stripMargin

  private def duckGramCte(name: String, k: Int): String =
    s"""$name AS (
       |  SELECT doc_id, source, unnest(list_distinct(
       |    [array_to_string(toks[i:i+${k - 1}], ' ') for i in range(1, len(toks)-${k - 2})])) AS sg
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)
       |  WHERE len(toks) >= $k)""".stripMargin

  val cleanCorpusSql: String = {
    val quality = duckQuality
    val scores = TextAnalysis.LangMarkers.map { case (lang, markers) => lang -> duckMarkerCount(markers) }
    val allZero = scores.map { case (_, s) => s"$s = 0" }.mkString(" AND ")
    val chain = scores.zipWithIndex.map { case ((lang, s), i) =>
      scores.drop(i + 1).map(_._2) match {
        case Seq() => s"ELSE '$lang'"
        case Seq(only) => s"WHEN $s >= $only THEN '$lang'"
        case many => s"WHEN $s >= greatest(${many.mkString(", ")}) THEN '$lang'"
      }
    }
    val langPred = s"CASE WHEN $allZero THEN 'und' ${chain.init.mkString(" ")} ${chain.last} END"
    s"""WITH keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
       |SELECT doc_id, round($quality, 6) AS quality,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |FROM documents
       |WHERE doc_id IN (SELECT doc_id FROM keepers)
       |  AND $quality >= CAST('$QualityFloor' AS DOUBLE)
       |  AND $langPred = 'en'
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-language keep rates for the curated mix, as buckets out of 1000
    * (integer thresholds — no double arithmetic in the sampling decision).
    * The shape of real pretraining-mix curation: keep all high-resource
    * English, downsample the rest. */
  val SampleBuckets: Seq[(String, Int)] = Seq("en" -> 1000, "zh" -> 500, "es" -> 500)
  val DefaultBucket = 250

  /** The full curation mix — the stage after [[cleanCorpus]]: near-dup
    * component keepers (doc == min id of its banded-Jaccard component, so
    * exact copies AND fuzzy rewrites collapse to one representative) →
    * quality floor → per-language DETERMINISTIC stratified sampling
    * (md5-derived 60-bit hash of lang:doc_id mod 1000 under the language's
    * bucket threshold — reproducible on any cluster, any partitioning, and
    * exactly mirrored by the oracle).
    *
    * Scale: keeper set = one banded-dedup pass + O(diameter) label rounds;
    * quality/sampling are pure expressions (no shuffle); the semi-join on
    * doc_id is the only remaining exchange. */
  /** The STATELESS curation stages — quality floor + per-language
    * deterministic stratified sampling — as one pure-expression predicate.
    * Shared by the batch query and the streaming twin
    * ([[graft.streaming.StreamingIngest.curateDocStream]]): stateless
    * expressions run identically in either mode. */
  def curationFilter: org.apache.spark.sql.Column =
    qualityPass && samplePass

  /** The two stateless curation predicates SEPARATELY — the audit surface
    * ([[auditCorpus]]) reports each stage's flag on its own. */
  private def qualityPass: org.apache.spark.sql.Column =
    TextAnalysis.qualityScore(col("text")) >= QualityFloor

  private def samplePass: org.apache.spark.sql.Column = {
    val bucket = SampleBuckets.foldRight(lit(DefaultBucket): org.apache.spark.sql.Column) {
      case ((lang, b), acc) => when(col("lang") === lang, lit(b)).otherwise(acc)
    }
    Dedup.hash60(concat_ws(":", col("lang"), col("doc_id"))) % 1000 < bucket
  }

  def curatedMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = VectorModel.documents(spark, dir)
    // shared component layout: pair discovery AND the star-contraction
    // are build-time state (DedupQueries.componentLayout); the keeper
    // set here is one filtered scan of the persisted assignment
    val keepers = spark.read.parquet(DedupQueries.componentLayout(spark, dir))
      .where(col("doc_id") === col("component")).select("doc_id")
    docs
      .join(keepers, Seq("doc_id"), "left_semi")
      .where(curationFilter)
      .select(
        col("doc_id"), col("lang"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
      .orderBy("doc_id")
  }

  lazy val curatedMixSql: String =
    s"""WITH RECURSIVE $duckComponentCtes
       |SELECT doc_id, lang, round($duckQuality, 6) AS quality
       |FROM documents
       |WHERE doc_id IN (SELECT doc FROM comp WHERE doc = component)
       |  AND $duckQuality >= CAST('$QualityFloor' AS DOUBLE)
       |  AND $DuckSampleHash < $duckBucket
       |ORDER BY doc_id""".stripMargin

  /** Decontamination parameters: docs from [[EvalSource]] stand in for the
    * benchmark/eval set; everything else is the training corpus. k = 4 word
    * grams — long enough that overlap means shared phrasing, short enough
    * to produce hits on this corpus. */
  val EvalSource = "src0"
  val DecontamK = 4

  /** Test-set leakage check: training docs sharing any distinct 4-gram
    * with the eval slice, with the overlap count
    * ([[Dedup.contaminatedDocs]] — broadcast eval grams, one corpus
    * scan). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = VectorModel.documents(spark, dir)
    Dedup.contaminatedDocs(
        docs.where(col("source") =!= EvalSource),
        docs.where(col("source") === EvalSource),
        "doc_id", "text", DecontamK)
      .select(col("doc").as("doc_id"), col("n_overlap"))
      .orderBy("doc_id")
  }

  val decontaminateSql: String = {
    s"""WITH ${duckGramCte("sgl", DecontamK)},
       |ev AS (SELECT DISTINCT sg FROM sgl WHERE source = '$EvalSource')
       |SELECT t.doc_id, count(*) AS n_overlap
       |FROM sgl t JOIN ev ON t.sg = ev.sg
       |WHERE t.source <> '$EvalSource'
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
  }

  /** THE acquisition capstone, registered end to end: raw WARC archives
    * (the memoized crawl egress — a Bench build state like every layout)
    * → fail-loud record parse → byte-exact article recovery →
    * [[cleanCorpusFrom]] (exact dedup → quality floor → language gate).
    * Hash-gated against [[cleanCorpusSql]] UNCHANGED: the crawl round
    * trip is lossless, so cleaning the re-ingested crawl must equal
    * cleaning the parquet documents table — any parse slip, escape
    * asymmetry, or row loss anywhere in the acquisition chain breaks the
    * hash. */
  def crawlCorpus(spark: SparkSession, dir: String): DataFrame =
    cleanCorpusFrom(graft.sources.WarcSource.readDocuments(
      spark, TextQueries.warcLayoutPath(spark, dir)))

  lazy val crawlCorpusSql: String = cleanCorpusSql

  /** Blocked hosts (an RFC 2606 fixture standing in for the spam/adult/
    * SEO blocklists every production crawl applies BEFORE any content
    * work — the cheapest gate in the pipeline). */
  val HostBlocklist = Seq("site2.example.com", "site4.example.com")

  /** Host-level blocklist gate over the planted URL corpus
    * ([[graft.text.Urls]]): docs whose canonical host is blocklisted
    * drop before a single content byte is touched. A pure expression
    * filter — the blocklist is a bounded literal set (a production list
    * is a bounded broadcast); no shuffle at all. */
  def hostFilter(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Urls
    Urls.urlCorpus(VectorModel.documents(spark, dir))
      .select(col("doc_id"), Urls.host(col("url")).as("host"))
      .where(!col("host").isInCollection(HostBlocklist))
      .orderBy("doc_id")
  }

  val hostFilterSql: String = {
    val blocked = HostBlocklist.map(h => s"'$h'").mkString(", ")
    s"""WITH ${graft.text.Urls.canonicalCtesSql(graft.text.Urls.urlCorpusSql)}
       |SELECT doc_id, host FROM ucanon
       |WHERE host NOT IN ($blocked)
       |ORDER BY doc_id""".stripMargin
  }

  /** Semantic decontamination threshold: hash-embedding cosine at/above
    * this against ANY eval doc flags the training doc. Picked on the
    * measured max-sim distribution (median ~0.83 on this corpus): 0.9
    * flags the semantically-close tail (~10% at sf0.01, ~43% at sf0.1)
    * without flagging everything. */
  val SemDecontamTau = 0.9

  /** SEMANTIC test-set leakage check — the meaning-level complement of
    * the exact ([[decontaminate]], shared 4-grams) and fuzzy
    * (`pipe_decontaminate_fuzzy`, banded MinHash) passes: flag training
    * docs whose hash-embedding ([[TextQueries.embedDocs]]'s gated
    * embedder) lands within cosine [[SemDecontamTau]] of ANY eval doc —
    * paraphrases and re-encodings that share no n-grams at all. Output
    * (doc_id, max_sim, n_hits) for the flagged docs.
    *
    * Scale shape: the eval set is BOUNDED (a benchmark suite, not a
    * corpus), so it broadcasts and the train side is ONE scan with a
    * per-row max over |eval| cosines — corpus × |eval|, never corpus².
    * The IVF-bucketed variant (the `dd_semantic_ivf` blocking) is the
    * path when |eval| itself grows large. Hash-gated: embeddings,
    * cosine chains, max, and the threshold compare all mirror
    * term-for-term (max over doubles is order-free; the compare runs on
    * the bit-identical raw sims). */
  def decontaminateSemantic(spark: SparkSession, dir: String): DataFrame = {
    val emb = new graft.text.HashEmbedder(TextQueries.EmbedDim)
    val docs = VectorModel.documents(spark, dir)
      .select(col("doc_id"), col("source"), emb.embed(col("text")).as("emb"))
    val eval = docs.where(col("source") === EvalSource)
      .select(col("emb").as("evemb"))
    docs.where(col("source") =!= EvalSource)
      .crossJoin(broadcast(eval))
      .select(col("doc_id"),
        graft.GraftExtensions.cosineSim(col("emb"), col("evemb")).as("s"))
      .groupBy("doc_id")
      .agg(max(col("s")).as("ms"),
        sum(when(col("s") >= SemDecontamTau, 1L).otherwise(0L)).as("n_hits"))
      .where(col("ms") >= SemDecontamTau)
      .select(col("doc_id"), round(col("ms"), 6).as("max_sim"), col("n_hits"))
      .orderBy("doc_id")
  }

  /** IVF-bucketed twin of [[decontaminateSemantic]] — the LARGE-|eval|
    * escape hatch the broadcast path documents: when the eval suite
    * itself is too big to broadcast-cross every training row, block the
    * bipartite comparison instead. The blocking structure is fitted on
    * the EVAL side (bounded, and it is the side being protected): eval
    * docs assign to their nearest of [[SemIvfK]] learned clusters, each
    * training doc probes its [[SemIvfProbes]] nearest clusters, and the
    * candidate join runs co-partitioned on cluster_id — candidate volume
    * Σ_c |train probers(c)|·|eval members(c)| instead of corpus × |eval|.
    * Approximate in FLAG RECALL only (a qualifying pair probing disjoint
    * clusters is missed; reported sims are exact cosines) → spec-gated
    * against the broadcast-exact path like every IVF serving twin, and
    * registered rows-only in the driver contract. */
  def decontaminateSemanticIvf(spark: SparkSession, dir: String): DataFrame =
    semanticIvfFlagged(spark, dir)._1

  /** ORACLE-GATED parity twin of [[decontaminateSemanticIvf]] — the
    * `vq_ivf_parity_topk` two-step-oracle pattern applied to the
    * decontamination ladder: the SAME fixed-probe bucketed pipeline, plus
    * a publish of the fitted eval-side centroids as an oracle sidecar so
    * DuckDB re-derives the whole chain (eval assignment by squared-L2
    * asc / cluster asc — the nearest-centroid rule; train probes by
    * centroid cosine desc / cluster asc — the probe walk's rule; exact
    * candidate cosines; threshold + rounding) and hash-compares it. The
    * base entry stays the recall-gated operator (spec vs the
    * broadcast-exact path); this twin pins the serving math end to end. */
  def decontaminateSemanticIvfParity(spark: SparkSession, dir: String): DataFrame = {
    val (df, model) = semanticIvfFlagged(spark, dir)
    ApproxQueries.publishCentroidsFlat(spark, "sem_ivf_centroids", dir,
      model.centroids)
    df
  }

  private def semanticIvfFlagged(spark: SparkSession, dir: String)
      : (DataFrame, graft.index.Ivf.IvfModel) = {
    val embd = new graft.text.HashEmbedder(TextQueries.EmbedDim)
    val docs = VectorModel.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        embd.embed(col("text")).as("emb"))
    val eval = docs.where(col("source") === EvalSource)
      .select(col("doc_id").as("vec_id"), col("emb").as("vector"))
    val (_, model) = graft.index.Ivf.fit(eval, vecCol = "vector",
      k = SemIvfK, idCol = "vec_id")
    val evalAssigned = graft.index.Ivf.assign(eval, model, "vector")
      .select(col("vector").as("evemb"), col("cluster_id"))
    val flagged = docs.where(col("source") =!= EvalSource)
      .select(col("doc_id"), col("emb"),
        explode(graft.functions.ModelExpressions.probeClusters(col("emb"),
          model.centroids, graft.functions.ProbeStop.nearest(SemIvfProbes))).as("cluster_id"))
      .join(evalAssigned.hint("shuffle_hash"), Seq("cluster_id"))
      .select(col("doc_id"),
        graft.GraftExtensions.cosineSim(col("emb"), col("evemb")).as("s"))
      .groupBy("doc_id")
      .agg(max(col("s")).as("ms"),
        sum(when(col("s") >= SemDecontamTau, 1L).otherwise(0L)).as("n_hits"))
      .where(col("ms") >= SemDecontamTau)
      .select(col("doc_id"), round(col("ms"), 6).as("max_sim"), col("n_hits"))
      .orderBy("doc_id")
    (flagged, model)
  }

  /** Cluster count / probe width for [[decontaminateSemanticIvf]] —
    * sized to the fixture eval set (25 docs); at production |eval| both
    * scale with √|eval| like every IVF sizing. */
  val SemIvfK = 8
  val SemIvfProbes = 3

  private def semTau = s"CAST('$SemDecontamTau' AS DOUBLE)"

  /** The train×eval cosine CTE chain (`sem_e, sem_tr, sem_ev, sem_sims`
    * with `sem_sims = (doc_id, s)`) — ONE definition composed by
    * [[decontaminateSemanticSql]] and the semantic train-corpus oracle,
    * so the two cannot drift (the [[DedupQueries.fuzzyScoredCtes]]
    * pattern). */
  private[queries] lazy val semanticSimsCtes: String = {
    val sim = OracleSql.cosineCols(
      i => s"sem_tr.e$i", i => s"sem_ev.e$i", TextQueries.EmbedDim)
    s"""sem_e AS (SELECT doc_id, source,
       |    ${TextQueries.hashFeatureComps}
       |  FROM (SELECT doc_id, source, ${TextQueries.hashListSql("text")} AS hs
       |        FROM documents)),
       |sem_tr AS (SELECT * FROM sem_e WHERE source <> '$EvalSource'),
       |sem_ev AS (SELECT * FROM sem_e WHERE source = '$EvalSource'),
       |sem_sims AS (SELECT sem_tr.doc_id AS doc_id, $sim AS s
       |  FROM sem_tr CROSS JOIN sem_ev)""".stripMargin
  }

  val decontaminateSemanticSql: String =
    s"""WITH $semanticSimsCtes,
       |agg AS (SELECT doc_id, max(s) AS ms,
       |    sum(CASE WHEN s >= $semTau THEN 1 ELSE 0 END) AS n_hits
       |  FROM sem_sims GROUP BY doc_id)
       |SELECT doc_id, round(ms, 6) AS max_sim, CAST(n_hits AS BIGINT) AS n_hits
       |FROM agg WHERE ms >= $semTau
       |ORDER BY doc_id""".stripMargin

  /** HASH-GATE of [[decontaminateSemanticIvfParity]] GIVEN the published
    * eval-side centroid sidecar: the bucketed candidate set re-derived
    * end to end (assignment squared-L2 asc / cluster asc, probes cosine
    * desc / cluster asc — the kernels' exact tie rules), candidate
    * cosines term-for-term, then the same max/count/threshold as the
    * broadcast oracle. Reuses [[semanticSimsCtes]]'s embedding CTEs so
    * the two semantic oracles cannot drift. */
  lazy val decontaminateSemanticIvfParitySql: String = {
    val d = TextQueries.EmbedDim
    def cE(i: Int) = s"cent.c$i"
    s"""WITH $semanticSimsCtes,
       |cent AS (SELECT CAST(cluster_id AS INTEGER) AS cluster_id,
       |    ${(0 until d).map(j => s"c$j").mkString(", ")}
       |  FROM ${OracleSidecars.sqlTable("sem_ivf_centroids")}),
       |sem_asg AS (SELECT doc_id, cluster_id FROM (
       |  SELECT ev.doc_id, cent.cluster_id,
       |    row_number() OVER (PARTITION BY ev.doc_id
       |      ORDER BY ${OracleSql.l2sq(cE, i => s"ev.e$i", d)} ASC, cent.cluster_id ASC) AS arn
       |  FROM sem_ev ev CROSS JOIN cent) WHERE arn = 1),
       |sem_pr AS (SELECT doc_id, cluster_id FROM (
       |  SELECT tr.doc_id, cent.cluster_id,
       |    row_number() OVER (PARTITION BY tr.doc_id
       |      ORDER BY ${OracleSql.cosineCols(cE, i => s"tr.e$i", d)} DESC, cent.cluster_id ASC) AS prn
       |  FROM sem_tr tr CROSS JOIN cent) WHERE prn <= $SemIvfProbes),
       |sem_cand AS (SELECT p.doc_id AS doc_id,
       |    ${OracleSql.cosineCols(i => s"tr.e$i", i => s"ev.e$i", d)} AS s
       |  FROM sem_pr p
       |    JOIN sem_asg a ON a.cluster_id = p.cluster_id
       |    JOIN sem_tr tr ON tr.doc_id = p.doc_id
       |    JOIN sem_ev ev ON ev.doc_id = a.doc_id),
       |sem_agg AS (SELECT doc_id, max(s) AS ms,
       |    sum(CASE WHEN s >= $semTau THEN 1 ELSE 0 END) AS n_hits
       |  FROM sem_cand GROUP BY doc_id)
       |SELECT doc_id, round(ms, 6) AS max_sim, CAST(n_hits AS BIGINT) AS n_hits
       |FROM sem_agg WHERE ms >= $semTau
       |ORDER BY doc_id""".stripMargin
  }

  /** THE full training-corpus pipeline, end to end — every cleaning stage
    * composed in the order a 100 TB run would schedule them, emitting the
    * training units (chunks), not documents:
    *
    *  1. near-dup component keepers (shared banded-pair layout → connected
    *     components; exact copies and fuzzy rewrites collapse to one doc);
    *  2. quality floor (pure expression, no shuffle);
    *  3. decontamination (drop training docs sharing any 4-gram with the
    *     eval slice — broadcast eval grams, anti-join);
    *  4. deterministic per-language stratified sampling — downsampling by
    *     language bucket, not a language filter (md5 hash mod, pure
    *     expression);
    *  5. RAG chunking of the survivors (pure expression explode).
    *
    * Stage order is the scale argument: the most-reducing stages run
    * first, every pure-expression stage runs shuffle-free, and chunk
    * explosion (the only row-multiplying stage) runs LAST on the smallest
    * surviving set. Beyond the shuffles inside the nested operators
    * (the label-propagation rounds of connectedComponents, the gram
    * explode + per-doc agg of contaminatedDocs), the composition itself
    * adds only the pair-layout read, one keeper semi-join, and one
    * decontamination anti-join. */
  def trainCorpus(spark: SparkSession, dir: String): DataFrame =
    trainCorpusFrom(spark, dir, fuzzyDecontam = false)

  /** [[trainCorpus]] with fuzzy (MinHash) decontamination composed in:
    * beyond the exact 4-gram anti-join, docs flagged by
    * [[DedupQueries.decontaminateFuzzy]] (banded signature collision with
    * any eval doc at est ≥ the near-dup floor) are dropped too — the
    * leakage-audit-grade corpus cut. Adds one bounded anti-join (the
    * flagged set is ≪ corpus) plus the delta×corpus band join, whose
    * corpus side is the SAME persisted signature layout the keeper stage
    * already builds — no second signature pass. */
  def trainCorpusFuzzy(spark: SparkSession, dir: String): DataFrame =
    trainCorpusFrom(spark, dir, fuzzyDecontam = true)

  /** [[trainCorpus]] with the SEMANTIC decontamination cut composed in —
    * the third rung of the leakage ladder (exact 4-grams → fuzzy MinHash
    * → embedding cosine): training docs within cosine
    * [[SemDecontamTau]] of any eval doc drop too. Adds one bounded
    * anti-join over [[decontaminateSemantic]]'s flagged set; the
    * embedding pass is delta-free (corpus × bounded eval). */
  def trainCorpusSemantic(spark: SparkSession, dir: String): DataFrame =
    trainCorpusFrom(spark, dir, fuzzyDecontam = false, semanticDecontam = true)

  private def trainCorpusFrom(spark: SparkSession, dir: String,
      fuzzyDecontam: Boolean, semanticDecontam: Boolean = false): DataFrame = {
    val docs = VectorModel.documents(spark, dir)
    // keepers from the persisted component layout — the contraction is
    // build-time state, not a per-capstone cost
    val keepers = spark.read.parquet(DedupQueries.componentLayout(spark, dir))
      .where(col("doc_id") === col("component")).select("doc_id")
    val contaminated = Dedup.contaminatedDocs(
        docs.where(col("source") =!= EvalSource),
        docs.where(col("source") === EvalSource),
        "doc_id", "text", DecontamK)
      .select(col("doc").as("doc_id"))
    val base = docs
      .where(col("source") =!= EvalSource)
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
    val fuzzyCut =
      if (!fuzzyDecontam) base
      else base.join(
        DedupQueries.decontaminateFuzzy(spark, dir).select("doc_id"),
        Seq("doc_id"), "left_anti")
    val decontaminated =
      if (!semanticDecontam) fuzzyCut
      else fuzzyCut.join(
        decontaminateSemantic(spark, dir).select("doc_id"),
        Seq("doc_id"), "left_anti")
    decontaminated
      .where(curationFilter)
      .select(col("doc_id"), col("lang"),
        posexplode(TextAnalysis.chunks(col("text"),
          TextQueries.ChunkSize, TextQueries.ChunkStride))
          .as(Seq("chunk_ix", "chunk")))
      .select(col("doc_id"), col("lang"), col("chunk_ix").cast("long").as("chunk_ix"),
        col("chunk"))
      .orderBy("doc_id", "chunk_ix")
  }

  /** Shared oracle body of [[trainCorpusSql]]/[[trainCorpusFuzzySql]] —
    * one text, parameterized on the extra CTE chain and kept-predicate
    * the fuzzy variant adds, so the two cannot drift. */
  private def trainCorpusSqlFrom(extraCtes: String, extraKeptPred: String): String =
    s"""WITH RECURSIVE $duckComponentCtes,
       |${duckGramCte("dgl", DecontamK)},
       |ev AS (SELECT DISTINCT sg FROM dgl WHERE source = '$EvalSource'),
       |contaminated AS (SELECT DISTINCT t.doc_id FROM dgl t JOIN ev ON t.sg = ev.sg
       |                 WHERE t.source <> '$EvalSource'),$extraCtes
       |kept AS (
       |  SELECT doc_id, lang, text FROM documents
       |  WHERE source <> '$EvalSource'
       |    AND doc_id IN (SELECT doc FROM comp WHERE doc = component)
       |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)$extraKeptPred
       |    AND $duckQuality >= CAST('$QualityFloor' AS DOUBLE)
       |    AND $DuckSampleHash < $duckBucket)
       |SELECT doc_id, lang, CAST(s // ${TextQueries.ChunkStride} AS BIGINT) AS chunk_ix,
       |  array_to_string(toks[s+1 : s+${TextQueries.ChunkSize}], ' ') AS chunk
       |FROM (SELECT doc_id, lang, toks, unnest(range(0, len(toks), ${TextQueries.ChunkStride})) AS s
       |      FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM kept))
       |ORDER BY doc_id, chunk_ix""".stripMargin

  lazy val trainCorpusSql: String = trainCorpusSqlFrom("", "")

  /** Per-document LINEAGE through the training-corpus pipeline — the
    * audit table a curation run ships next to the corpus, answering "why
    * is doc X not in the training set?" without re-running anything: one
    * row per training-candidate doc (the eval slice is the contamination
    * REFERENCE, not a candidate), the per-stage flags in scheduling
    * order, and `verdict` = the FIRST stage that dropped the doc. Reads
    * the SAME persisted component layout and stage expressions as
    * `pipe_train_corpus`, so the audit cannot drift from the corpus it
    * explains (spec pins audit-kept == the trainCorpus doc set). Scale
    * shape: the capstone's own joins minus the chunk explode — one
    * keeper scan, one bounded contaminated set, pure-expression flags. */
  def auditCorpus(spark: SparkSession, dir: String): DataFrame = {
    val all = VectorModel.documents(spark, dir)
    val docs = all.where(col("source") =!= EvalSource)
    val keepers = spark.read.parquet(DedupQueries.componentLayout(spark, dir))
      .where(col("doc_id") === col("component"))
      .select(col("doc_id"), lit(true).as("__k"))
    val contaminated = Dedup.contaminatedDocs(
        docs, all.where(col("source") === EvalSource),
        "doc_id", "text", DecontamK)
      .select(col("doc").as("doc_id"), lit(true).as("__c"))
    docs
      .join(keepers, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("__k"), lit(false)).as("is_keeper"),
        coalesce(col("__c"), lit(false)).as("is_contaminated"),
        qualityPass.as("quality_pass"),
        samplePass.as("sample_pass"))
      .withColumn("verdict",
        when(!col("is_keeper"), "near_duplicate")
          .when(col("is_contaminated"), "contaminated")
          .when(!col("quality_pass"), "low_quality")
          .when(!col("sample_pass"), "sampled_out")
          .otherwise("kept"))
      .orderBy("doc_id")
  }

  lazy val auditCorpusSql: String =
    s"""WITH RECURSIVE $duckComponentCtes,
       |${duckGramCte("dgl", DecontamK)},
       |ev AS (SELECT DISTINCT sg FROM dgl WHERE source = '$EvalSource'),
       |contaminated AS (SELECT DISTINCT t.doc_id FROM dgl t JOIN ev ON t.sg = ev.sg
       |                 WHERE t.source <> '$EvalSource'),
       |a AS (
       |  SELECT doc_id, lang,
       |    doc_id IN (SELECT doc FROM comp WHERE doc = component) AS is_keeper,
       |    doc_id IN (SELECT doc_id FROM contaminated) AS is_contaminated,
       |    $duckQuality >= CAST('$QualityFloor' AS DOUBLE) AS quality_pass,
       |    $DuckSampleHash < $duckBucket AS sample_pass
       |  FROM documents WHERE source <> '$EvalSource')
       |SELECT doc_id, lang, is_keeper, is_contaminated, quality_pass, sample_pass,
       |  CASE WHEN NOT is_keeper THEN 'near_duplicate'
       |       WHEN is_contaminated THEN 'contaminated'
       |       WHEN NOT quality_pass THEN 'low_quality'
       |       WHEN NOT sample_pass THEN 'sampled_out'
       |       ELSE 'kept' END AS verdict
       |FROM a ORDER BY doc_id""".stripMargin

  /** [[trainCorpusSql]] with the fuzzy-decontamination cut composed in:
    * the factored fuzzy CTE chain ([[DedupQueries.fuzzyScoredCtes]] —
    * one definition with `pipe_decontaminate_fuzzy`'s own oracle, so the
    * two cannot drift) plus one NOT IN over its flagged doc set. */
  lazy val trainCorpusFuzzySql: String = trainCorpusSqlFrom(
    s"\n${DedupQueries.fuzzyScoredCtes},",
    "\n    AND doc_id NOT IN (SELECT doc_id FROM fscored)")

  /** [[trainCorpusSql]] with the semantic cut composed in: the factored
    * cosine CTE chain ([[semanticSimsCtes]] — one definition with
    * [[decontaminateSemanticSql]]) plus one NOT IN over the flagged
    * set. */
  lazy val trainCorpusSemanticSql: String = trainCorpusSqlFrom(
    s"\n$semanticSimsCtes,\nsem_flagged AS (SELECT doc_id FROM sem_sims" +
      s" GROUP BY doc_id HAVING max(s) >= $semTau),",
    "\n    AND doc_id NOT IN (SELECT doc_id FROM sem_flagged)")

  /** Retrieval query for the RAG capstone (English, like the corpus). */
  val RagQuery = "vector database similarity search"

  /** THE RAG capstone, end to end in one registered query: the cleaned
    * training chunks ([[trainCorpus]] — keepers → quality → decontaminate
    * → sample → chunk) flow through the deterministic embedder
    * ([[graft.text.HashEmbedder]], value-gated by `tx_embed`) into an IVF
    * index (seeded fit over the chunk embeddings), and the query string
    * embeds through the SAME seam and searches it — text in, ranked
    * chunk_ids out. This is the reference's intended pipeline (embed →
    * insert → search; it ships the model download but no code) composed
    * Spark-first. K-means makes it rows-only in the driver contract, like
    * every IVF path; TextSpec gates retrieval (planted near-dup chunk
    * comes back first).
    *
    * Scale shape: chunking/embedding are narrow expression stages over the
    * cleaned corpus, the fit samples ≤100k rows driver-side, assignment is
    * one broadcast-centroid map, and serving scans only probed clusters —
    * each stage is the one already argued safe in isolation. */
  def ragEndToEnd(spark: SparkSession, dir: String): DataFrame = {
    val embedder = new graft.text.HashEmbedder(TextQueries.EmbedDim)
    val chunks = trainCorpus(spark, dir)
    // registry-cache the embedded chunks: the fit's sample collect, the
    // assignment pass, and the probe-pruned search all read this frame —
    // without the cache each one re-runs the full cleaning pipeline +
    // embedding from lineage (measured 3× the corpus work)
    //
    // `spark.graft.rag.batchEmbed=true` routes the chunk-embedding stage
    // through the BATCH-INFERENCE pattern ([[graft.text.BatchEmbedder]]:
    // per-executor weights-file load + batched matmuls — the execution
    // shape a real transformer swap needs) with IDENTITY weights over the
    // hash features, so the flag changes ONLY the execution pattern:
    // results are value-identical to the codegen seam (BatchEmbedSpec
    // gates equality of the full capstone output on both paths).
    val useBatch = spark.conf.getOption("spark.graft.rag.batchEmbed")
      .exists(_.toBoolean)
    val embedded = graft.store.CacheRegistry.cached(
      if (useBatch)
        graft.text.BatchEmbedder.embedPartitions(
          chunks.select(
            TextQueries.chunkId(col("doc_id"), col("chunk_ix")).as("chunk_id"),
            col("chunk")),
          "chunk", identityWeightsPath(spark), outCol = "vector")
          .select("chunk_id", "vector")
      else chunks.select(
        TextQueries.chunkId(col("doc_id"), col("chunk_ix")).as("chunk_id"),
        embedder.embed(col("chunk")).as("vector")))
    val (assigned, model) = Ivf.fit(embedded, vecCol = "vector", idCol = "chunk_id")
    // the query embeds through the same expression seam (one 1-row job)
    val qv = spark.range(1)
      .select(embedder.embed(lit(RagQuery)).as("v"))
      .head.getSeq[Double](0)
    Ivf.search(assigned, model, qv, 10, Ivf.defaultRule(model), vecCol = "vector",
      idCol = "chunk_id")
      .select("chunk_id", "sim", "cluster_id")
  }

  /** Identity weight matrix ([[TextQueries.EmbedDim]] square) persisted
    * once per JVM — the model file the batch-embed flag serves from:
    * identity over hash features reproduces [[graft.text.HashEmbedder]]
    * values exactly, isolating the execution-pattern swap from any model
    * change. */
  private def identityWeightsPath(spark: SparkSession): String =
    identityWeightsCache.computeIfAbsent("id", _ => {
      val p = graft.store.Fs.scratchDir(spark, "graft_rag_idweights") + "/w"
      val d = TextQueries.EmbedDim
      graft.text.LocalModelEmbedder.save(spark, p,
        Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0))
      p
    })

  private val identityWeightsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Context-window capacity and shard count for the packing export —
    * [[graft.operators.SeqPack]] scaladoc for why shards, not a global
    * window. */
  val PackCap = 2048
  val PackShards = 32

  /** Training-export packing: every document's global token offset and
    * window span under GPT-style concat-and-chunk at [[PackCap]] tokens,
    * over the seeded shuffled order. */
  def pack(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SeqPack.pack(
        VectorModel.documents(spark, dir), "doc_id",
        graft.text.TextAnalysis.tokenCount(col("text")), PackCap, PackShards)
      .orderBy("doc_id")

  /** The oracle computes the SAME offsets with one global window — equal
    * to the two-level prefix sum by the decomposition identity (the order
    * key (shard, h, doc_id) is the canonical order on both sides). */
  /** The pack ORDER hash and cumulative-window SQL fragments — ONE
    * definition consumed by [[packSql]], [[packSpansSql]], and
    * [[packBpeSql]] so the pack order key cannot drift between the three
    * oracles. */
  private def packHashSql(idRef: String): String =
    s"('0x'||substr(md5('pack:'||CAST($idRef AS VARCHAR)),1,15))::BIGINT"

  private val packCumsumSql: String =
    s"""CAST(COALESCE(sum(n) OVER (ORDER BY h % $PackShards ASC, h ASC, doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start""".stripMargin

  /** Whitespace-count pack prefix (`t` + `c` CTEs), shared by
    * [[packSql]] and [[packSpansSql]]. */
  private val packBaseCtes: String =
    s"""t AS (
       |  SELECT doc_id,
       |    ${packHashSql("doc_id")} AS h,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n,
       |    $packCumsumSql
       |  FROM t)""".stripMargin

  val packSql: String =
    s"""WITH $packBaseCtes
       |SELECT doc_id, start, start // $PackCap AS seq, start % $PackCap AS off,
       |  ((start + n - 1) // $PackCap) - (start // $PackCap) + 1 AS n_seqs
       |FROM c ORDER BY doc_id""".stripMargin

  /** Sequence packing by TOKENIZER counts: the same two-level
    * distributed prefix sum as [[pack]], but each doc's length is its
    * BPE token count under the fixture model ([[graft.text.Bpe]]) instead
    * of the whitespace count — offsets in the units a training run
    * actually consumes. Same scale shape as [[pack]], but the encode is
    * expensive, so the per-doc counts are computed ONCE and cached
    * (CacheRegistry) before SeqPack's two passes (shard totals + window) —
    * the corpus is BPE-encoded once, not twice. Blank/whitespace-only
    * docs clamp to a 1-token pad slot (both engines), honoring pack's
    * n ≥ 1 precondition with deterministic placement. The oracle composes
    * the shared BPE encode CTE with the shared pack window fragments. */
  def packBpe(spark: SparkSession, dir: String): DataFrame = {
    val counted = graft.store.CacheRegistry.cached(
      VectorModel.documents(spark, dir).select(col("doc_id"),
        greatest(
          graft.text.Bpe.bpeTokenCount(col("text"), graft.text.Bpe.FixtureModel)
            .cast("long"),
          lit(1L)).as("n_bpe")))
    graft.operators.SeqPack.pack(counted, "doc_id", col("n_bpe"),
        PackCap, PackShards)
      .orderBy("doc_id")
  }

  lazy val packBpeSql: String =
    s"""WITH RECURSIVE
       |${TextQueries.bpeDocCountCtes},
       |bt AS (
       |  SELECT d.doc_id,
       |    ${packHashSql("d.doc_id")} AS h,
       |    greatest(CAST(coalesce(a.nb, 0) AS BIGINT), 1) AS n
       |  FROM documents d LEFT JOIN agg a USING (doc_id)),
       |c AS (
       |  SELECT doc_id, n,
       |    $packCumsumSql
       |  FROM bt)
       |SELECT doc_id, start, start // $PackCap AS seq, start % $PackCap AS off,
       |  ((start + n - 1) // $PackCap) - (start // $PackCap) + 1 AS n_seqs
       |FROM c ORDER BY doc_id""".stripMargin

  /** FFD bin capacity — sized so a bin holds ~4–5 of this corpus's docs
    * (10–100 tokens), i.e. the packing decisions are non-trivial. */
  val FfdCap = 256

  /** Document-boundary first-fit-decreasing packing
    * ([[graft.operators.SeqPack.ffdPack]]): per doc its (shard, bin)
    * context-window assignment under FFD at [[FfdCap]] tokens — the
    * padding-cutting twin of [[pack]] for trainers that never split a
    * document. HASH-GATED: the shard-local greedy walk is mirrored in
    * DuckDB as a recursive CTE over each shard's count-descending doc
    * list carrying the open-bin remainder list (the unrolled-greedy
    * oracle pattern); padding ≤ sequential-greedy and capacity/integrity
    * invariants are SeqPackSpec-gated. */
  def packFfd(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SeqPack.ffdPack(
        VectorModel.documents(spark, dir), "doc_id",
        graft.text.TextAnalysis.tokenCount(col("text")), FfdCap, PackShards)
      .orderBy("doc_id")

  val packFfdSql: String =
    s"""WITH RECURSIVE
       |t AS (
       |  SELECT doc_id, shard, n,
       |    row_number() OVER (PARTITION BY shard ORDER BY n DESC, doc_id ASC) AS rnk
       |  FROM (
       |    SELECT doc_id, CAST(h % $PackShards AS INTEGER) AS shard,
       |      least(CAST(len(string_split(text, ' ')) AS BIGINT),
       |        CAST($FfdCap AS BIGINT)) AS n
       |    FROM (SELECT doc_id, text, ${packHashSql("doc_id")} AS h
       |          FROM documents))),
       |r AS (
       |  SELECT shard, rnk, doc_id, n, CAST(0 AS BIGINT) AS bin,
       |    [CAST($FfdCap AS BIGINT) - n] AS bins
       |  FROM t WHERE rnk = 1
       |  UNION ALL
       |  SELECT shard, rnk, doc_id, n,
       |    CASE WHEN fit IS NULL OR fit = 0 THEN CAST(len(bins0) AS BIGINT)
       |         ELSE CAST(fit AS BIGINT) - 1 END AS bin,
       |    CASE WHEN fit IS NULL OR fit = 0
       |         THEN list_append(bins0, CAST($FfdCap AS BIGINT) - n)
       |         ELSE bins0[1:fit-1] || [bins0[fit] - n] || bins0[fit+1:]
       |    END AS bins
       |  FROM (
       |    SELECT t.shard AS shard, t.rnk AS rnk, t.doc_id AS doc_id,
       |      t.n AS n, r.bins AS bins0,
       |      list_position(list_transform(r.bins, b -> b >= t.n), true) AS fit
       |    FROM r JOIN t ON t.shard = r.shard AND t.rnk = r.rnk + 1))
       |SELECT doc_id, n, shard, bin FROM r ORDER BY doc_id""".stripMargin

  /** The window-placement manifest ([[graft.operators.SeqPack.spans]]):
    * one row per (doc, window) with the occupied token range — what a
    * sharded export writer joins against its window slice. */
  def packSpans(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SeqPack.spans(
        VectorModel.documents(spark, dir), "doc_id",
        graft.text.TextAnalysis.tokenCount(col("text")), PackCap, PackShards)
      .orderBy("doc_id", "seq")

  val packSpansSql: String =
    s"""WITH $packBaseCtes,
       |x AS (
       |  SELECT doc_id, start, n, start // $PackCap AS first_seq,
       |    (start + n - 1) // $PackCap AS last_seq
       |  FROM c),
       |s AS (
       |  SELECT doc_id, start, n, first_seq, last_seq,
       |    unnest(generate_series(first_seq, last_seq)) AS seq
       |  FROM x)
       |SELECT doc_id, seq,
       |  CASE WHEN seq = first_seq THEN start % $PackCap ELSE CAST(0 AS BIGINT) END AS a,
       |  CASE WHEN seq = last_seq THEN (start + n - 1) % $PackCap
       |       ELSE CAST(${PackCap - 1} AS BIGINT) END AS b
       |FROM s ORDER BY doc_id, seq""".stripMargin

  /** Shard-file count for the token export — sized so the sf fixtures
    * produce several multi-window files; production sizing is one file
    * per ~128 MB of tokens. */
  val TokenShardFiles = 8

  /** Build-once token-shard layout ([[graft.operators.TokenShards]]):
    * the packing manifest materialized as fixed-width binary `.bin`
    * windows + `.idx` sidecars under a scratch dir, once per dataset.
    * Exposed as the Bench build step `build_token_shards`. */
  private[graft] def tokenShardLayout(spark: SparkSession, dir: String): String =
    tokenShardLayoutCache.computeIfAbsent(dir, _ => {
      val p = graft.store.Fs.scratchDir(spark, "graft_token_shards") + "/shards"
      graft.operators.TokenShards.write(
        VectorModel.documents(spark, dir), "doc_id", "text",
        PackCap, PackShards, TokenShardFiles, p)
      p
    })

  private val tokenShardLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Token-shard export, gated by ROUND-TRIP: the result is re-derived
    * from the exported shard BYTES (decode every int32, count windows /
    * tokens / pads, sum ids per file), while the oracle computes the same
    * aggregates from the documents table and the pack-order arithmetic —
    * so the hash gate covers the pack order, the window math, the token
    * id function, the shard-file assignment, AND the binary layout (any
    * wrong byte order, width, or shifted window changes the decode). */
  def exportShards(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TokenShards.readAggregates(
      spark, tokenShardLayout(spark, dir), PackCap)

  lazy val exportShardsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${packHashSql("doc_id")} AS h,
       |    string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |  FROM documents),
       |c AS (SELECT doc_id, toks, n, $packCumsumSql FROM t),
       |tok AS (
       |  SELECT start + i - 1 AS p,
       |    ${graft.operators.TokenShards.tokIdSql("toks[i]")} AS id
       |  FROM (SELECT toks, start, unnest(range(1, len(toks)+1)) AS i FROM c)),
       |dims AS (
       |  SELECT ((max(p) + $PackCap) // $PackCap + ${TokenShardFiles - 1})
       |    // $TokenShardFiles AS spf
       |  FROM tok),
       |f AS (SELECT (p // $PackCap) // (SELECT spf FROM dims) AS shard,
       |        p // $PackCap AS seq, id FROM tok)
       |SELECT shard, count(DISTINCT seq) AS n_seqs,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  count(DISTINCT seq) * $PackCap - count(*) AS n_pad,
       |  CAST(sum(id) AS BIGINT) AS id_sum
       |FROM f GROUP BY shard ORDER BY shard""".stripMargin

  /** TOKENIZER-UNIT token-shard export — the [[exportShards]] machinery
    * with REAL vocabulary ids: the corpus is BPE-encoded under the
    * fixture model ([[graft.text.Bpe.FixtureModel]], the same model
    * `pipe_pack_bpe` packs by), the corpus vocabulary (distinct encoded
    * tokens, sorted) is materialized as a (token, vid) sidecar — the
    * tokenizer artifact a trainer loads next to its shards — and each
    * doc's token stream exports as dense vocab ids at the `pipe_pack_bpe`
    * offsets. Blank docs occupy their clamped one-token slot as a pad.
    * Gated by the SAME round-trip discipline: the served aggregates are
    * re-derived from shard bytes while the oracle replays the BPE encode
    * walk, the vocabulary ranking, the per-word offsets, and the pack
    * arithmetic in SQL. */
  private[graft] def bpeTokenShardLayout(spark: SparkSession, dir: String): String =
    bpeTokenShardLayoutCache.computeIfAbsent(dir, _ =>
      bpeShardLayoutFrom(spark,
        VectorModel.documents(spark, dir)
          .select(col("doc_id").as("doc"), col("text").as("txt")),
        graft.text.Bpe.FixtureModel,
        graft.store.Fs.scratchDir(spark, "graft_token_shards_bpe")))

  /** Shared body of every BPE-encoded shard export (whole-document
    * fixture, curated fixture, curated corpus-TRAINED): `input` is
    * (doc: Long, txt: String); encode under `model`, rank the dense
    * vocabulary sidecar (ids 1..V by token sort order — a tokenizer
    * vocab, not a corpus-sized table), place vocab-id cells, clamp blank
    * docs to one pad slot, and land trainer shards under
    * `root/shards`. */
  private def bpeShardLayoutFrom(spark: SparkSession, input: DataFrame,
      model: graft.text.Bpe.BpeModel, root: String): String = {
    import org.apache.spark.sql.expressions.Window
    // cache the INPUT lineage first: for the curated exports it is the
    // whole train-corpus pipeline, and the two caches built below
    // (encoded stream, doc universe) would otherwise each re-derive it —
    // one pass to build this cache replaces two full pipeline re-runs
    // (measured ~1.2 s per re-run at sf0.1; guide §1.2 "don't recompute")
    val in = graft.store.CacheRegistry.cached(input)
    val exploded = graft.store.CacheRegistry.cached(
      in.select(col("doc"),
        posexplode(graft.text.Bpe.bpeTokens(col("txt"), model))
          .as(Seq("dpos", "tok"))))
    // the vocabulary sidecar: dense ids 1..V by token sort order
    // (vocab-sized single-partition rank), written next to the shards
    exploded.select("tok").distinct()
      .withColumn("vid",
        row_number().over(Window.orderBy(col("tok"))).cast("int"))
      .write.mode("overwrite").parquet(s"$root/vocab")
    val vocab = spark.read.parquet(s"$root/vocab")
    val cells = exploded
      .join(broadcast(vocab), "tok")
      .select(col("doc"), col("dpos").cast("long").as("dpos"),
        col("vid").as("id"))
    // the doc universe: one (cached) projection pass over the input —
    // shared by the blank-doc slots and the per-doc counts below, instead
    // of each re-deriving the whole upstream curation pipeline
    val docs = graft.store.CacheRegistry.cached(in.select(col("doc")))
    // a blank doc still owns one (clamped) slot — emit its pad cell so
    // every window stays non-empty for the contiguity walk
    val blanks = docs
      .join(exploded.select("doc").distinct(), Seq("doc"), "left_anti")
      .select(col("doc"), lit(0L).as("dpos"),
        lit(graft.operators.TokenShards.PadId).as("id"))
    // per-doc token counts FROM the cached encoded stream (row count per
    // doc == size(bpeTokens), exactly), not a second full BPE encode of
    // the corpus: `bpeTokenCount` is `size(bpeTokens(...))`, so spelling
    // counts that way re-ran the encoder once per consuming action
    val counts = docs
      .join(exploded.groupBy("doc").agg(count(lit(1)).as("nb")), Seq("doc"), "left")
      .select(col("doc"),
        greatest(coalesce(col("nb"), lit(0L)), lit(1L)).as("n"))
    graft.operators.TokenShards.writeCells(counts,
      cells.unionByName(blanks), PackCap, PackShards, TokenShardFiles,
      s"$root/shards")
    // the export is on disk; all three build caches are fully consumed —
    // release them so they don't hold executor storage into the serves
    graft.store.CacheRegistry.release(docs)
    graft.store.CacheRegistry.release(exploded)
    graft.store.CacheRegistry.release(in)
    s"$root/shards"
  }

  private val bpeTokenShardLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def exportShardsBpe(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TokenShards.readAggregates(
      spark, bpeTokenShardLayout(spark, dir), PackCap)

  lazy val exportShardsBpeSql: String =
    s"""WITH RECURSIVE
       |${TextQueries.bpeDocCountCtes},
       |bt AS (
       |  SELECT d.doc_id AS doc_id,
       |    ${packHashSql("d.doc_id")} AS h,
       |    greatest(CAST(coalesce(a.nb, 0) AS BIGINT), 1) AS n
       |  FROM documents d LEFT JOIN agg a USING (doc_id)),
       |c AS (SELECT doc_id, n, $packCumsumSql FROM bt),
       |dw0 AS (SELECT doc_id, ws, unnest(range(1, len(ws)+1)) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |dw AS (SELECT doc_id, i AS wpos, ws[i] AS w FROM dw0 WHERE ws[i] <> ''),
       |wt AS (SELECT d.doc_id AS doc_id, d.wpos AS wpos, f.toks AS toks, f.n AS n
       |       FROM dw d JOIN final f ON f.w = d.w),
       |vocab AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS INTEGER) AS vid
       |          FROM (SELECT DISTINCT unnest(toks) AS tok FROM wt)),
       |wo AS (SELECT doc_id, wpos, toks,
       |         COALESCE(sum(n) OVER (PARTITION BY doc_id ORDER BY wpos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS woff
       |       FROM wt),
       |dt0 AS (SELECT doc_id, woff, toks, unnest(range(1, len(toks)+1)) AS j FROM wo),
       |dt AS (SELECT d.doc_id AS doc_id, d.woff + j - 1 AS dpos, v.vid AS id
       |       FROM dt0 d JOIN vocab v ON v.tok = d.toks[j]),
       |tok AS (SELECT c.start + d.dpos AS p, d.id AS id FROM dt d JOIN c USING (doc_id)),
       |dims AS (
       |  SELECT ((CAST((SELECT sum(n) FROM bt) AS BIGINT) + ${PackCap - 1}) // $PackCap
       |    + ${TokenShardFiles - 1}) // $TokenShardFiles AS spf),
       |f AS (SELECT (p // $PackCap) // (SELECT spf FROM dims) AS shard,
       |        p // $PackCap AS seq, id FROM tok),
       |sh AS (SELECT shard, count(DISTINCT seq) AS n_present,
       |         CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(id) AS BIGINT) AS id_sum
       |       FROM f GROUP BY shard),
       |-- window slots per shard FILE from the pack totals (a shard's
       |-- trailing all-pad windows — blank-doc slots — hold no tok rows)
       |slots AS (
       |  SELECT shard, least((shard + 1) * spf, total_seqs) - shard * spf AS n_seqs
       |  FROM (SELECT unnest(range(0, CAST((total_seqs + spf - 1) // spf AS BIGINT))) AS shard,
       |               spf, total_seqs
       |        FROM (SELECT spf, (CAST((SELECT sum(n) FROM bt) AS BIGINT) + ${PackCap - 1})
       |                // $PackCap AS total_seqs FROM dims)))
       |SELECT s.shard AS shard, s.n_seqs AS n_seqs,
       |  coalesce(sh.n_tokens, 0) AS n_tokens,
       |  s.n_seqs * $PackCap - coalesce(sh.n_tokens, 0) AS n_pad,
       |  coalesce(sh.id_sum, 0) AS id_sum
       |FROM slots s LEFT JOIN sh USING (shard)
       |ORDER BY shard""".stripMargin

  /** Chunk-key base for [[corpusShardLayout]]: the pack unit there is a
    * (doc, chunk) pair folded into one long — chunk counts are bounded
    * far below 2^20 by the chunker, doc ids far below 2^43. */
  val ChunkIdBase = 1L << 20

  /** THE capstone of capstones — the curated training corpus exported as
    * trainer shards: `pipe_train_corpus`' kept chunks (crawlable docs →
    * cleaning → near-dup keepers from the component layout → exact
    * decontamination → quality floor → stratified acceptance → chunking)
    * flow through the SAME binary export machinery as the raw-corpus
    * entries, so the pipeline genuinely ends in files a trainer mmaps.
    * Pack unit = chunk (keyed doc·2^20 + chunk_ix); ids are the
    * whitespace-hash seam. The oracle composes the FULL train-corpus
    * mirror with the export arithmetic — one hash gate over the entire
    * pipeline-to-bytes story. */
  private[graft] def corpusShardLayout(spark: SparkSession, dir: String): String =
    corpusShardLayoutCache.computeIfAbsent(dir, _ => {
      val p = graft.store.Fs.scratchDir(spark, "graft_corpus_shards") + "/shards"
      // cache the curated chunks: TokenShards.write consumes its input in
      // two independent actions (the counts-cache build and the cell
      // write job), each of which would re-run the whole train-corpus
      // pipeline from lineage (guide §1.2 "don't recompute")
      val chunks = graft.store.CacheRegistry.cached(
        trainCorpus(spark, dir)
          .select((col("doc_id") * ChunkIdBase + col("chunk_ix")).as("cid"),
            col("chunk")))
      graft.operators.TokenShards.write(chunks, "cid", "chunk",
        PackCap, PackShards, TokenShardFiles, p)
      graft.store.CacheRegistry.release(chunks) // fully consumed by the write
      p
    })

  private val corpusShardLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def corpusShards(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TokenShards.readAggregates(
      spark, corpusShardLayout(spark, dir), PackCap)

  lazy val corpusShardsSql: String = {
    val cumsum =
      s"""CAST(COALESCE(sum(n) OVER (ORDER BY h % $PackShards ASC, h ASC, cid ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start""".stripMargin
    s"""WITH RECURSIVE
       |chunks AS ($trainCorpusSql),
       |t AS (
       |  SELECT cid, ${packHashSql("cid")} AS h,
       |    string_split(chunk, ' ') AS toks,
       |    CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n
       |  FROM (SELECT doc_id * $ChunkIdBase + chunk_ix AS cid, chunk FROM chunks)),
       |c AS (SELECT cid, toks, n, $cumsum FROM t),
       |tok AS (
       |  SELECT start + i - 1 AS p,
       |    ${graft.operators.TokenShards.tokIdSql("toks[i]")} AS id
       |  FROM (SELECT toks, start, unnest(range(1, len(toks)+1)) AS i FROM c)),
       |dims AS (
       |  SELECT ((max(p) + $PackCap) // $PackCap + ${TokenShardFiles - 1})
       |    // $TokenShardFiles AS spf
       |  FROM tok),
       |f AS (SELECT (p // $PackCap) // (SELECT spf FROM dims) AS shard,
       |        p // $PackCap AS seq, id FROM tok)
       |SELECT shard, count(DISTINCT seq) AS n_seqs,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  count(DISTINCT seq) * $PackCap - count(*) AS n_pad,
       |  CAST(sum(id) AS BIGINT) AS id_sum
       |FROM f GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** [[corpusShardLayout]] under REAL vocabulary ids — the exact bytes a
    * trainer consumes: the curated corpus's kept chunks, BPE-encoded
    * under the fixture model, exported as dense vocab ids with the
    * (token, vid) sidecar. Vocabulary ranks over the CURATED chunks'
    * token set (what the shards actually contain), not the raw corpus.
    * The oracle composes three mirrored stories into one hash gate: the
    * full train-corpus cut, the BPE encode walk + vocab ranking, and the
    * pack/shard arithmetic. */
  private[graft] def corpusShardBpeLayout(spark: SparkSession, dir: String): String =
    corpusShardBpeLayoutCache.computeIfAbsent(dir, _ =>
      bpeShardLayoutFrom(spark, curatedChunksFor(spark, dir),
        graft.text.Bpe.FixtureModel,
        graft.store.Fs.scratchDir(spark, "graft_corpus_shards_bpe")))

  /** The curated corpus's kept chunks in the (doc, txt) shape the BPE
    * shard exports consume. */
  private def curatedChunksFor(spark: SparkSession, dir: String): DataFrame =
    trainCorpus(spark, dir)
      .select((col("doc_id") * ChunkIdBase + col("chunk_ix")).as("doc"),
        col("chunk").as("txt"))

  private val corpusShardBpeLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def corpusShardsBpe(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TokenShards.readAggregates(
      spark, corpusShardBpeLayout(spark, dir), PackCap)

  /** [[corpusShardBpeLayout]]'s corpus-TRAINED twin — the capstone a real
    * trainer consumes: the SAME curated chunks, encoded under the
    * corpus-trained merge list ([[TextQueries.bpeModel]] — the train→serve
    * seam `tx_bpe_stats_trained` already hash-gates), shipped as dense
    * trained-vocab ids with the (token, vid) sidecar. The oracle replays
    * the trained encode walk from the published merge-table sidecar, so a
    * drifted trained vocabulary, a fixture/trained mixup, or broken pack
    * arithmetic all hash-mismatch. */
  private[graft] def corpusShardTrainedLayout(spark: SparkSession, dir: String): String =
    corpusShardTrainedLayoutCache.computeIfAbsent(dir, _ => {
      val root = graft.store.Fs.scratchDir(spark, "graft_corpus_shards_trained")
      val model = TextQueries.bpeModel(spark, dir) // publishes oracle sidecar
      // the tokenizer rides WITH the shards: shards + (token, vid) vocab
      // + ordered merge table is the complete trainer handoff — ids are
      // meaningless without the model that produced them
      graft.text.Bpe.save(spark, model, s"$root/merges")
      bpeShardLayoutFrom(spark, curatedChunksFor(spark, dir), model, root)
    })

  private val corpusShardTrainedLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def corpusShardsTrained(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TokenShards.readAggregates(
      spark, corpusShardTrainedLayout(spark, dir), PackCap)

  lazy val corpusShardsBpeSql: String =
    corpusShardsBpeSqlWith(TextQueries.bpeFixtureMergesCte)

  lazy val corpusShardsTrainedSql: String =
    corpusShardsBpeSqlWith(
      s"merges AS (SELECT CAST(rank AS INTEGER) AS rank, a, b FROM ${OracleSidecars.sqlTable("bpe_merges")})")

  /** The curated-chunk vocab-id shard oracle, parameterized by its
    * merge-table source (fixture literals / trained sidecar) — ONE
    * mirrored story for both capstones. */
  private def corpusShardsBpeSqlWith(mergesCte: String): String = {
    val cumsum =
      s"""CAST(COALESCE(sum(n) OVER (ORDER BY h % $PackShards ASC, h ASC, cid ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start""".stripMargin
    s"""WITH RECURSIVE
       |chunks AS ($trainCorpusSql),
       |${TextQueries.bpeEncodeCtes(mergesCte)},
       |cw0 AS (SELECT cid, ws, unnest(range(1, len(ws)+1)) AS i
       |        FROM (SELECT doc_id * $ChunkIdBase + chunk_ix AS cid,
       |                string_split(chunk, ' ') AS ws FROM chunks)),
       |cw AS (SELECT cid, i AS wpos, ws[i] AS w FROM cw0 WHERE ws[i] <> ''),
       |wt AS (SELECT c.cid AS cid, c.wpos AS wpos, f.toks AS toks, f.n AS n
       |       FROM cw c JOIN final f ON f.w = c.w),
       |vocab AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS INTEGER) AS vid
       |          FROM (SELECT DISTINCT unnest(toks) AS tok FROM wt)),
       |cnt AS (SELECT cid, CAST(sum(n) AS BIGINT) AS nb FROM wt GROUP BY cid),
       |bt AS (
       |  SELECT c0.cid AS cid, ${packHashSql("c0.cid")} AS h,
       |    greatest(coalesce(cnt.nb, 0), 1) AS n
       |  FROM (SELECT DISTINCT doc_id * $ChunkIdBase + chunk_ix AS cid FROM chunks) c0
       |  LEFT JOIN cnt USING (cid)),
       |c AS (SELECT cid, n, $cumsum FROM bt),
       |wo AS (SELECT cid, wpos, toks,
       |         COALESCE(sum(n) OVER (PARTITION BY cid ORDER BY wpos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS woff
       |       FROM wt),
       |dt0 AS (SELECT cid, woff, toks, unnest(range(1, len(toks)+1)) AS j FROM wo),
       |dt AS (SELECT d.cid AS cid, d.woff + j - 1 AS dpos, v.vid AS id
       |       FROM dt0 d JOIN vocab v ON v.tok = d.toks[j]),
       |tok AS (SELECT c.start + d.dpos AS p, d.id AS id FROM dt d JOIN c USING (cid)),
       |dims AS (
       |  SELECT ((CAST((SELECT sum(n) FROM bt) AS BIGINT) + ${PackCap - 1}) // $PackCap
       |    + ${TokenShardFiles - 1}) // $TokenShardFiles AS spf),
       |f AS (SELECT (p // $PackCap) // (SELECT spf FROM dims) AS shard,
       |        p // $PackCap AS seq, id FROM tok),
       |sh AS (SELECT shard, count(DISTINCT seq) AS n_present,
       |         CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(id) AS BIGINT) AS id_sum
       |       FROM f GROUP BY shard),
       |slots AS (
       |  SELECT shard, least((shard + 1) * spf, total_seqs) - shard * spf AS n_seqs
       |  FROM (SELECT unnest(range(0, CAST((total_seqs + spf - 1) // spf AS BIGINT))) AS shard,
       |               spf, total_seqs
       |        FROM (SELECT spf, (CAST((SELECT sum(n) FROM bt) AS BIGINT) + ${PackCap - 1})
       |                // $PackCap AS total_seqs FROM dims)))
       |SELECT s.shard AS shard, s.n_seqs AS n_seqs,
       |  coalesce(sh.n_tokens, 0) AS n_tokens,
       |  s.n_seqs * $PackCap - coalesce(sh.n_tokens, 0) AS n_pad,
       |  coalesce(sh.id_sum, 0) AS id_sum
       |FROM slots s LEFT JOIN sh USING (shard)
       |ORDER BY shard""".stripMargin
  }

  /** Split-assignment salt — versioned so a deliberate re-split is a
    * one-line change that provably reassigns every bucket. */
  val SplitSalt = ":graft-split:v1"
  val TrainPct = 90
  val ValPct = 5

  /** LEAKAGE-SAFE train/val/test split: the assignment hashes the
    * near-dup COMPONENT label, not the document — near-duplicates
    * co-travel to one split, so the eval splits cannot hold near-copies
    * of training documents (the split-level decontamination rule; a
    * per-doc hash split leaks every split-straddling duplicate pair).
    * Deterministic and engine-stable: bucket = first 60 bits of
    * md5(component || salt) mod 100, mirrored digit-for-digit in DuckDB.
    * 100 TB shape: reuses the persisted pair layout + star-contraction
    * components (no new pairwise work), then one narrow hash projection. */
  def leakproofSplit(spark: SparkSession, dir: String): DataFrame = {
    val comp = DedupQueries.components(spark, dir)
    val bucket = pmod(
      conv(substring(md5(concat(col("component").cast("string"),
        lit(SplitSalt))), 1, 15), 16, 10).cast("long"),
      lit(100))
    comp.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < TrainPct, "train")
          .when(col("bucket") < TrainPct + ValPct, "val")
          .otherwise("test"))
      .select("doc_id", "component", "bucket", "split")
      .orderBy("doc_id")
  }

  /** The leakage AUDIT over the split — the verification artifact a
    * training run ships next to its split assignment: near-dup pairs
    * bucketed by the (unordered) split pair of their endpoints. Because
    * [[leakproofSplit]] hashes the COMPONENT label, every pair's
    * endpoints share a component and therefore a split — the off-diagonal
    * rows are empty BY CONSTRUCTION, and this entry proves it
    * value-level under the driver's hash gate (a per-doc hash split
    * would show (train, val)/(train, test) rows here — the leak this
    * audit exists to catch). One narrow join per endpoint against the
    * persisted pair layout; output rows ≤ |splits|². */
  def splitAudit(spark: SparkSession, dir: String): DataFrame = {
    val split = leakproofSplit(spark, dir).select(col("doc_id"), col("split"))
    val pairs = spark.read.parquet(DedupQueries.pairLayout(spark, dir))
      .select("da", "db")
    pairs
      .join(split.select(col("doc_id").as("da"), col("split").as("sa")), Seq("da"))
      .join(split.select(col("doc_id").as("db"), col("split").as("sb")), Seq("db"))
      .groupBy(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("split_a", "split_b")
  }

  lazy val splitAuditSql: String =
    s"""WITH RECURSIVE $duckComponentCtes,
       |b AS (
       |  SELECT doc AS doc_id,
       |    CASE WHEN bucket < $TrainPct THEN 'train'
       |         WHEN bucket < ${TrainPct + ValPct} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT doc, ('0x' || substr(md5(component::VARCHAR || '$SplitSalt'), 1, 15))::BIGINT % 100 AS bucket
       |        FROM comp)),
       |j AS (SELECT least(sa.split, sb.split) AS split_a,
       |             greatest(sa.split, sb.split) AS split_b
       |      FROM pairs p JOIN b sa ON p.da = sa.doc_id
       |                   JOIN b sb ON p.db = sb.doc_id)
       |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM j GROUP BY split_a, split_b ORDER BY split_a, split_b""".stripMargin

  lazy val leakproofSplitSql: String =
    s"""WITH RECURSIVE $duckComponentCtes,
       |b AS (
       |  SELECT doc AS doc_id, component,
       |    ('0x' || substr(md5(component::VARCHAR || '$SplitSalt'), 1, 15))::BIGINT % 100 AS bucket
       |  FROM comp)
       |SELECT doc_id, component, bucket,
       |  CASE WHEN bucket < $TrainPct THEN 'train'
       |       WHEN bucket < ${TrainPct + ValPct} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin

  /** Shard-assignment salt (versioned like [[SplitSalt]]) and shard count.
    * At 100 TB a shard is one training file, so the count is
    * totalBytes / targetFileSize (thousands), not this test-scale 16 —
    * the assignment hash is uniform in the count either way. */
  val ShardSalt = ":graft-shard:v1"
  val NumShards = 16

  /** Deterministic global training shuffle: every doc gets a shard (md5
    * bucket — stable under re-runs and engine-independent) and a dense
    * within-shard position (rank of a second, independent md5 key). The
    * physical shape IS the training-shard writer's: one hash shuffle on
    * `shard`, one per-shard sort — a shard must fit one task's sort
    * (that is what bounds targetFileSize), and there is no global sort or
    * driver-side pass. Seeded-random order without a `rand()` call keeps
    * the op replayable and oracle-able. */
  def shuffleShards(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = VectorModel.documents(spark, dir).select("doc_id")
    docs
      .withColumn("shard", pmod(
        Dedup.hash60(concat(col("doc_id").cast("string"), lit(ShardSalt))),
        lit(NumShards.toLong)))
      .withColumn("skey",
        md5(concat(lit("pos"), col("doc_id").cast("string"), lit(ShardSalt))))
      .withColumn("pos",
        (row_number().over(
          Window.partitionBy("shard").orderBy(col("skey"), col("doc_id"))) - 1)
          .cast("long"))
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")
  }

  lazy val shuffleShardsSql: String =
    s"""WITH a AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(doc_id::VARCHAR || '$ShardSalt'), 1, 15))::BIGINT % $NumShards AS shard,
       |    md5('pos' || doc_id::VARCHAR || '$ShardSalt') AS skey
       |  FROM documents)
       |SELECT doc_id, shard,
       |  row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) - 1 AS pos
       |FROM a ORDER BY shard, pos""".stripMargin

  /** EPOCH-ordered batch twin of the incremental shard shuffle
    * ([[graft.streaming.StreamingIngest.shardShuffleIngestBatch]]): docs
    * arriving in epoch order get dense per-shard positions ranked by
    * (epoch, skey, doc_id) — earlier epochs' positions are FROZEN (a
    * later arrival can only append after them, the manifest-stability
    * contract sequence packing already has), and within an epoch the
    * order is the same seeded md5 key as [[shuffleShards]]. Single-epoch
    * input degenerates to exactly [[shuffleShards]]. */
  private[graft] def shuffleShardsEpochs(docs: DataFrame, epochCol: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(col("doc_id"), epochCol.cast("long").as("epoch"))
      .withColumn("shard", pmod(
        Dedup.hash60(concat(col("doc_id").cast("string"), lit(ShardSalt))),
        lit(NumShards.toLong)))
      .withColumn("skey",
        md5(concat(lit("pos"), col("doc_id").cast("string"), lit(ShardSalt))))
      .withColumn("pos",
        (row_number().over(
          Window.partitionBy("shard")
            .orderBy(col("epoch"), col("skey"), col("doc_id"))) - 1)
          .cast("long"))
      .select("doc_id", "shard", "pos")
  }

  /** Mix salt + acceptance-bucket resolution for [[temperatureMix]]. */
  val MixSalt = ":graft-mix:v1"
  val MixBuckets = 1000000L

  /** Temperature-balanced source sampling (the data-mixture shape of
    * multi-corpus LM training): source s is downsampled at rate
    * sqrt(mass_s / mass_max) — α = 0.5 temperature flattening relative to
    * the heaviest source, so small sources keep proportionally more of
    * their mass. Acceptance is a per-doc md5 bucket against the source's
    * rate threshold: deterministic, replayable, and exactly mirrored by
    * the oracle (divide / sqrt / multiply are each single correctly-rounded
    * IEEE ops, so both engines compute the identical threshold).
    *
    * Scale shape: ONE narrow aggregate to the per-source masses (rows =
    * #sources, bounded — THAT is why its broadcast back onto the doc scan
    * is safe; the max-mass normalizer is a window over that bounded frame,
    * not a second corpus aggregate), then a pure-expression filter on the
    * scan. The corpus is read twice (mass pass + acceptance pass) and
    * shuffled once, for the final per-source report only. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = VectorModel.documents(spark, dir)
    val mass = docs.groupBy("source").agg(sum("n_chars").as("mass"))
    val rates = mass
      .withColumn("mmax", max("mass").over(Window.partitionBy()))
      .select(col("source"),
        floor(sqrt(col("mass").cast("double") / col("mmax").cast("double"))
          * MixBuckets.toDouble).cast("long").as("threshold"))
    docs
      .join(broadcast(rates), "source")
      .withColumn("bucket", pmod(
        Dedup.hash60(concat(col("doc_id").cast("string"), lit(MixSalt))),
        lit(MixBuckets)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bucket") < col("threshold"), 1L).otherwise(0L)).as("n_kept"),
        max("threshold").as("threshold"))
      .orderBy("source")
  }

  lazy val temperatureMixSql: String =
    s"""WITH m AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
       |           FROM documents GROUP BY source),
       |r AS (SELECT source,
       |        CAST(floor(sqrt(CAST(mass AS DOUBLE) / CAST((SELECT max(mass) FROM m) AS DOUBLE))
       |          * ${MixBuckets}.0) AS BIGINT) AS threshold
       |      FROM m),
       |b AS (SELECT d.source, r.threshold,
       |        ('0x' || substr(md5(d.doc_id::VARCHAR || '$MixSalt'), 1, 15))::BIGINT % $MixBuckets AS bucket
       |      FROM documents d JOIN r USING (source))
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN bucket < threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  max(threshold) AS threshold
       |FROM b GROUP BY source ORDER BY source""".stripMargin

  /** Repetition cap for [[epochMix]] — no source repeats more than this
    * many epochs however light it is (the UniMax budget guard). */
  val EpochCap = 4.0

  /** UniMax-shape epoch mixing: where [[temperatureMix]] DOWNSAMPLES
    * heavy sources, this UPSAMPLES light ones by repetition — source s
    * gets rate_s = min([[EpochCap]], sqrt(mass_max / mass_s)) ≥ 1 epochs
    * of its docs, so the heaviest source passes through exactly once and
    * light sources repeat up to the cap. The scaled threshold
    * T_s = floor(rate_s · [[MixBuckets]]) EXCEEDS the bucket range
    * (threshold > 1 in rate units); doc copy r ∈ {0,1,…} is emitted iff
    * r·MixBuckets + bucket < T_s, i.e. the doc's deterministic
    * repetition count is ceil((T_s − bucket) / MixBuckets) — full epochs
    * plus one fractional epoch admitted by the SAME md5 bucket the
    * temperature mix uses. Everything is exact integer / single-rounded
    * IEEE arithmetic, mirrored term-for-term by [[epochMixSql]].
    *
    * Scale shape: identical to [[temperatureMix]] — one bounded
    * per-source aggregate broadcast back onto the scan, pure-expression
    * repetition counts, one final bounded per-source report. The
    * duplicate emission itself is a `sequence()` explode a training
    * exporter would fuse with the shard write; the registered entry
    * reports the per-source emission ledger. */
  def epochMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = VectorModel.documents(spark, dir)
    val mass = docs.groupBy("source").agg(sum("n_chars").as("mass"))
    val rates = mass
      .withColumn("mmax", max("mass").over(Window.partitionBy()))
      .select(col("source"),
        floor(least(
            sqrt(col("mmax").cast("double") / col("mass").cast("double")),
            lit(EpochCap))
          * MixBuckets.toDouble).cast("long").as("threshold"))
    docs
      .join(broadcast(rates), "source")
      .withColumn("bucket", pmod(
        Dedup.hash60(concat(col("doc_id").cast("string"), lit(MixSalt))),
        lit(MixBuckets)))
      .withColumn("n_copies", expr(
        s"CASE WHEN threshold > bucket THEN (threshold - bucket + ${MixBuckets - 1}) DIV $MixBuckets ELSE 0 END"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_copies").as("n_emitted"),
        max("n_copies").as("max_rep"),
        max("threshold").as("threshold"))
      .orderBy("source")
  }

  lazy val epochMixSql: String =
    s"""WITH m AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
       |           FROM documents GROUP BY source),
       |r AS (SELECT source,
       |        CAST(floor(least(sqrt(CAST((SELECT max(mass) FROM m) AS DOUBLE) / CAST(mass AS DOUBLE)),
       |          CAST('$EpochCap' AS DOUBLE)) * ${MixBuckets}.0) AS BIGINT) AS threshold
       |      FROM m),
       |b AS (SELECT d.source, r.threshold,
       |        ('0x' || substr(md5(d.doc_id::VARCHAR || '$MixSalt'), 1, 15))::BIGINT % $MixBuckets AS bucket
       |      FROM documents d JOIN r USING (source)),
       |c AS (SELECT source, threshold,
       |        CASE WHEN threshold > bucket
       |             THEN (threshold - bucket + ${MixBuckets - 1}) // $MixBuckets
       |             ELSE 0 END AS n_copies
       |      FROM b)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_copies) AS BIGINT) AS n_emitted,
       |  CAST(max(n_copies) AS BIGINT) AS max_rep,
       |  max(threshold) AS threshold
       |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** QUALITY-GATED temperature mix — the composed curation stage a real
    * pipeline runs: documents pass the LEARNED quality gate
    * ([[TextQueries.qualityModelScores]]'s quantized logit > 0) first,
    * per-source masses and sqrt-flattened thresholds are computed over
    * the SURVIVORS (the mixture balances what actually ships, not raw
    * mass), and acceptance is the same md5 bucket as
    * [[temperatureMix]]. HASH-GATED end-to-end by composing the two
    * mirrors: the weight-sidecar logit CTEs ([[TextQueries.
    * qualityLogitCtes]]) feed the mix arithmetic verbatim. Same scale
    * shape as the temperature mix plus one bounded-broadcast scoring
    * join; report = (source, n_docs, n_quality, n_kept, threshold). */
  def qualityMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val model = TextQueries.qualityModel(spark, dir)
    TextQueries.publishQualityWeights(spark, dir, model) // repair no-op
    val docs = VectorModel.documents(spark, dir)
    // the gate scoring subtree (explode + weight join + per-doc aggregate)
    // feeds BOTH the mass branch and the acceptance branch — cache the
    // tiny id set or the corpus is scored twice
    val gatedIds = graft.store.CacheRegistry.cached(
      graft.text.QualityModel.score(docs.select("doc_id", "text"), model)
        .where(col("is_quality") === 1L).select("doc_id"))
    val gated = docs.join(gatedIds, Seq("doc_id"), "left_semi")
    val rates = gated.groupBy("source").agg(sum("n_chars").as("mass"))
      .withColumn("mmax", max("mass").over(Window.partitionBy()))
      .select(col("source"),
        floor(sqrt(col("mass").cast("double") / col("mmax").cast("double"))
          * MixBuckets.toDouble).cast("long").as("threshold"))
    val kept = gated
      .join(broadcast(rates), "source")
      .withColumn("bucket", pmod(
        Dedup.hash60(concat(col("doc_id").cast("string"), lit(MixSalt))),
        lit(MixBuckets)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_quality"),
        sum(when(col("bucket") < col("threshold"), 1L).otherwise(0L)).as("n_kept"),
        max("threshold").as("threshold"))
    // LEFT join: a source whose every doc fails the gate must still report
    // (n_quality = 0), or "fully gated out" is indistinguishable from
    // "absent from the corpus"
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("threshold"), lit(0L)).as("threshold"))
      .orderBy("source")
  }

  lazy val qualityMixSql: String =
    s"""WITH ${TextQueries.qualityLogitCtes},
       |ql AS (SELECT d.doc_id AS doc_id
       |  FROM d CROSS JOIN b
       |  WHERE ${TextQueries.qualityLogitExpr} > CAST('0.0' AS DOUBLE)),
       |g AS (SELECT doc.* FROM documents doc JOIN ql USING (doc_id)),
       |m AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
       |      FROM g GROUP BY source),
       |r AS (SELECT source,
       |        CAST(floor(sqrt(CAST(mass AS DOUBLE) / CAST((SELECT max(mass) FROM m) AS DOUBLE))
       |          * ${MixBuckets}.0) AS BIGINT) AS threshold
       |      FROM m),
       |k AS (SELECT g.source, r.threshold,
       |        ('0x' || substr(md5(g.doc_id::VARCHAR || '$MixSalt'), 1, 15))::BIGINT % $MixBuckets AS bucket
       |      FROM g JOIN r USING (source)),
       |kk AS (SELECT source, count(*) AS n_quality,
       |        CAST(sum(CASE WHEN bucket < threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |        max(threshold) AS threshold
       |      FROM k GROUP BY source),
       |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
       |SELECT nd.source AS source, nd.n_docs AS n_docs,
       |  CAST(COALESCE(kk.n_quality, 0) AS BIGINT) AS n_quality,
       |  CAST(COALESCE(kk.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(COALESCE(kk.threshold, 0) AS BIGINT) AS threshold
       |FROM nd LEFT JOIN kk USING (source) ORDER BY source""".stripMargin

  /** EPOCH-ordered batch twin of the incremental temperature mix
    * ([[graft.streaming.StreamingIngest.temperatureMixIngestBatch]]):
    * epoch e's docs are accepted against thresholds computed from the
    * CUMULATIVE per-source masses through e — earlier epochs' decisions
    * are FROZEN (no retroactive resampling when the mixture drifts), and
    * a single-epoch input degenerates to exactly [[temperatureMix]]'s
    * thresholds. Returns the per-doc decision rows
    * `(doc_id, source, epoch, bucket, threshold, kept)`. */
  private[graft] def temperatureMixEpochs(docs: DataFrame, epochCol: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs.withColumn("epoch", epochCol.cast("long"))
    val mass = d.groupBy("source", "epoch").agg(sum("n_chars").as("m"))
    // full source × epoch grid: a source absent from epoch e still holds
    // its prior cumulative mass and competes for the epoch's normalizer
    val grid = mass.select("source").distinct()
      .crossJoin(mass.select("epoch").distinct())
    val thr = grid.join(mass, Seq("source", "epoch"), "left")
      .withColumn("cmass", sum(coalesce(col("m"), lit(0L)))
        .over(Window.partitionBy("source").orderBy("epoch")))
      .withColumn("mmax", max("cmass").over(Window.partitionBy("epoch")))
      .select(col("source"), col("epoch"),
        floor(sqrt(col("cmass").cast("double") / col("mmax").cast("double"))
          * MixBuckets.toDouble).cast("long").as("threshold"))
    d.join(broadcast(thr), Seq("source", "epoch"))
      .withColumn("bucket", pmod(
        Dedup.hash60(concat(col("doc_id").cast("string"), lit(MixSalt))),
        lit(MixBuckets)))
      .select(col("doc_id"), col("source"), col("epoch"), col("bucket"),
        col("threshold"), (col("bucket") < col("threshold")).as("kept"))
  }

  // ---- DSIR domain-matching importance resampling -----------------------

  /** The registered entry's target-domain sample: source `src0`'s
    * documents — the "I have a small sample of the domain I want more
    * of" input DSIR takes (TrancheSpec proves the upsampling semantics
    * on a planted two-domain fixture where the separation is by
    * construction; the registered entry gates the ARITHMETIC on the real
    * corpus). */
  val DsirTargetSource = "src0"

  /** Fitted-and-quantized DSIR model for a dataset dir, memoized like
    * [[TextQueries.qualityModel]]; a Bench build step. Fit cost = two
    * bounded 256-row aggregates + driver quantization. */
  private[graft] def dsirModel(spark: SparkSession, dir: String): graft.text.Dsir.Model =
    dsirModelCache.computeIfAbsent(dir, _ => {
      val docs = VectorModel.documents(spark, dir)
      val m = graft.text.Dsir.fit(docs,
        docs.where(col("source") === DsirTargetSource))
      publishDsirSidecars(spark, dir, m)
      m
    })

  private val dsirModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.text.Dsir.Model]()

  private def publishDsirSidecars(spark: SparkSession, dir: String,
      m: graft.text.Dsir.Model): Unit = {
    import spark.implicits._
    OracleSidecars.publish(spark, "dsir_weights", dir) {
      m.wq.toSeq.zipWithIndex.map { case (wq, b) => (b, wq) }.toDF("bucket", "wq")
    }
    OracleSidecars.publish(spark, "dsir_accept", dir) {
      m.thr.toSeq.zipWithIndex.map { case (t, l) => (l.toLong, t) }.toDF("level", "thr")
    }
  }

  /** DSIR importance resampling toward [[DsirTargetSource]]'s domain —
    * see [[graft.text.Dsir]] for the semantics and the integer-exactness
    * contract. Reports the per-source resampling ledger (docs, kept,
    * fixed-point score range): the target-like mass survives, off-domain
    * mass is kept at its importance ratio. HASH-GATED: given the two
    * published sidecars (weights, acceptance thresholds) every serving
    * step is integer, mirrored term-for-term by [[dsirSampleSql]]. */
  def dsirSample(spark: SparkSession, dir: String): DataFrame = {
    val m = dsirModel(spark, dir)
    publishDsirSidecars(spark, dir, m) // repair no-op unless dir switched / root lost
    val docs = VectorModel.documents(spark, dir)
    docs.select("doc_id", "source")
      .join(graft.text.Dsir.decisions(docs, m), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("kept").as("n_kept"),
        min("z").as("min_z"),
        max("z").as("max_z"))
      .orderBy("source")
  }

  /** The DSIR decision CTE chain over `src` (any table/CTE with doc_id,
    * text): weight/threshold sidecars → token buckets → per-doc integer
    * score → kept flag, as CTEs `dw, da, dt, dz, dk` with
    * `dk = (doc_id, z, kept)`. ONE definition composed by
    * [[dsirSampleSql]] and the curation-capstone oracle
    * ([[dsirMixSql]]) so the two cannot drift — the
    * [[TextQueries.qualityLogitCtes]] pattern. */
  private[queries] def dsirKeptCtes(src: String): String = {
    import graft.text.Dsir.{B, LevelQ, Levels, AcceptSalt}
    s"""dw AS (SELECT CAST(bucket AS INTEGER) AS b, CAST(wq AS BIGINT) AS wq
       |  FROM ${OracleSidecars.sqlTable("dsir_weights")}),
       |da AS (SELECT CAST(level AS BIGINT) AS level, CAST(thr AS BIGINT) AS thr
       |  FROM ${OracleSidecars.sqlTable("dsir_accept")}),
       |dt AS (SELECT doc_id, ('0x'||substr(md5('dsir:'||tok),1,15))::BIGINT % $B AS b
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $src)),
       |dz AS (SELECT s.doc_id AS doc_id, COALESCE(zz.z, 0) AS z
       |  FROM $src s LEFT JOIN (
       |    SELECT dt.doc_id AS doc_id, CAST(sum(dw.wq) AS BIGINT) AS z
       |    FROM dt JOIN dw USING (b) GROUP BY dt.doc_id) zz USING (doc_id)),
       |dk AS (SELECT dz.doc_id AS doc_id, dz.z AS z,
       |    CASE WHEN ('0x'||substr(md5(dz.doc_id::VARCHAR||'$AcceptSalt'),1,15))::BIGINT < da.thr
       |      THEN 1 ELSE 0 END AS kept
       |  FROM dz JOIN da ON da.level = least(greatest(0, -dz.z) // $LevelQ, $Levels))""".stripMargin
  }

  lazy val dsirSampleSql: String =
    s"""WITH ${dsirKeptCtes("documents")}
       |SELECT d.source AS source, count(*) AS n_docs,
       |  CAST(sum(dk.kept) AS BIGINT) AS n_kept,
       |  min(dk.z) AS min_z, max(dk.z) AS max_z
       |FROM documents d JOIN dk USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ---- learned-domain mixing ---------------------------------------------

  /** Number of LEARNED domains [[domainMix]] clusters the corpus into. */
  val DomainK = 8

  /** Seeded k-means over the corpus's hash embeddings — the label-free
    * domain model behind [[domainMix]], memoized per dataset like every
    * layout build; a Bench build step. Centroids (8 × 16 doubles)
    * publish as the `domain_centroids` sidecar so the oracle re-derives
    * assignment.
    *
    * The hash-priority SAMPLE is taken over raw docs FIRST and only the
    * winners embed: unlike every prior [[graft.index.Ivf.fit]] caller
    * (whose vector column is already stored), this one's vectors are an
    * expensive computed expression, and fit's TakeOrderedAndProject
    * sampler evaluates the projection for every row before the heap
    * insert — embedding the whole corpus to keep ≤ FitSampleRows of it
    * (the round-14 review finding). Sampling-then-embedding yields the
    * IDENTICAL model: fit re-applies the same (hash(id), id) order +
    * limit to the pre-sampled set, and the top-N of a top-N is itself. */
  private[graft] def domainModel(spark: SparkSession, dir: String): graft.index.Ivf.IvfModel =
    domainModelCache.computeIfAbsent(dir, _ => {
      val emb = new graft.text.HashEmbedder(TextQueries.EmbedDim)
      val sampled = VectorModel.documents(spark, dir)
        .select(col("doc_id").as("id"), col("text"))
        .orderBy(hash(col("id")), col("id"))
        .limit(graft.index.Ivf.FitSampleRows)
      val (_, m) = graft.index.Ivf.fit(
        sampled.select(col("id"), emb.embed(col("text")).as("vector")),
        k = DomainK)
      publishDomainCentroids(spark, dir, m)
      m
    })

  private val domainModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.index.Ivf.IvfModel]()

  private def publishDomainCentroids(spark: SparkSession, dir: String,
      m: graft.index.Ivf.IvfModel): Unit =
    ApproxQueries.publishCentroidsFlat(spark, "domain_centroids", dir, m.centroids)

  /** LEARNED-domain temperature mixing — source labels are a proxy; what
    * a mixture actually wants to balance is CONTENT domains, which a
    * 100 TB corpus has no labels for. This entry discovers them
    * label-free: hash-embed every document (the [[TextQueries.embedDocs]]
    * kernel), cluster the embeddings with seeded k-means ([[domainModel]]
    * — the IVF fit machinery reused as a domain model), assign each doc
    * its nearest centroid, and temperature-mix over the LEARNED domains
    * exactly as [[temperatureMix]] does over sources (sqrt flattening,
    * same per-doc md5 coin). HASH-GATED end-to-end: embedding components
    * are exact (±1 token counts), assignment mirrors as the l2-argmin
    * over the published centroid sidecar (the `ann_ivf_topk` asg
    * pattern), and the mix arithmetic is the shared single-rounded IEEE
    * chain. Scale shape: fit is sample-bounded (one TakeOrdered), serving
    * is one embed+assign projection pass (codegen kernels, model state
    * rides the plan), one bounded per-domain mass broadcast, and the
    * per-domain report shuffle. */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = domainModel(spark, dir)
    publishDomainCentroids(spark, dir, m) // repair no-op unless dir switched / root lost
    val emb = new graft.text.HashEmbedder(TextQueries.EmbedDim)
    // the embed+assign pass feeds BOTH the mass branch and the acceptance
    // branch — cache the tiny (doc_id, n_chars, domain) projection or the
    // corpus is embedded twice (the recurring shared-lineage class)
    val assigned = graft.store.CacheRegistry.cached(
      graft.index.Ivf.assign(
        VectorModel.documents(spark, dir)
          .select(col("doc_id"), col("n_chars"), emb.embed(col("text")).as("vector")),
        m)
        .select(col("doc_id"), col("n_chars"), col("cluster_id").as("domain")))
    val rates = assigned.groupBy("domain").agg(sum("n_chars").as("mass"))
      .withColumn("mmax", max("mass").over(Window.partitionBy()))
      .select(col("domain"),
        floor(sqrt(col("mass").cast("double") / col("mmax").cast("double"))
          * MixBuckets.toDouble).cast("long").as("threshold"))
    assigned
      .join(broadcast(rates), "domain")
      .withColumn("bucket", pmod(
        Dedup.hash60(concat(col("doc_id").cast("string"), lit(MixSalt))),
        lit(MixBuckets)))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bucket") < col("threshold"), 1L).otherwise(0L)).as("n_kept"),
        max("threshold").as("threshold"))
      .orderBy("domain")
  }

  /** The learned-domain ASSIGNMENT CTE chain (hd, e, cent, asg — hash
    * embeddings → centroid sidecar → l2-argmin, `asg = (doc_id,
    * cluster_id)`) — ONE definition composed by [[domainMixSql]] and the
    * diverse-sample oracle ([[diverseSampleSql]]) so the two cannot
    * drift (the [[dsirKeptCtes]] pattern). */
  private[queries] def domainAsgCtes: String = {
    val d = TextQueries.EmbedDim
    def cE(i: Int) = s"cent.c$i"
    def eE(i: Int) = s"e.e$i"
    s"""hd AS (${TextQueries.hashedDocsSql}),
       |e AS (SELECT doc_id,
       |  ${TextQueries.hashFeatureComps}
       |FROM hd),
       |cent AS (SELECT CAST(cluster_id AS INTEGER) AS cluster_id,
       |    ${(0 until d).map(j => s"c$j").mkString(", ")}
       |  FROM ${OracleSidecars.sqlTable("domain_centroids")}),
       |asg AS (SELECT doc_id, cluster_id FROM (
       |  SELECT e.doc_id, cent.cluster_id,
       |    row_number() OVER (PARTITION BY e.doc_id
       |      ORDER BY ${OracleSql.l2sq(cE, eE, d)} ASC, cent.cluster_id ASC) AS arn
       |  FROM e CROSS JOIN cent) WHERE arn = 1)""".stripMargin
  }

  lazy val domainMixSql: String = {
    s"""WITH $domainAsgCtes,
       |j AS (SELECT asg.cluster_id AS domain, doc.doc_id AS doc_id, doc.n_chars AS n_chars
       |  FROM documents doc JOIN asg USING (doc_id)),
       |m AS (SELECT domain, CAST(sum(n_chars) AS BIGINT) AS mass FROM j GROUP BY domain),
       |r AS (SELECT domain,
       |        CAST(floor(sqrt(CAST(mass AS DOUBLE) / CAST((SELECT max(mass) FROM m) AS DOUBLE))
       |          * ${MixBuckets}.0) AS BIGINT) AS threshold
       |      FROM m),
       |b AS (SELECT j.domain, r.threshold,
       |        ('0x' || substr(md5(j.doc_id::VARCHAR || '$MixSalt'), 1, 15))::BIGINT % $MixBuckets AS bucket
       |      FROM j JOIN r USING (domain))
       |SELECT CAST(domain AS INTEGER) AS domain, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN bucket < threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  max(threshold) AS threshold
       |FROM b GROUP BY domain ORDER BY domain""".stripMargin
  }

  /** The FULL curation capstone — the three model-driven stages a real
    * training-data pipeline chains, composed in order: (1) the LEARNED
    * quality gate ([[TextQueries.qualityModelScores]]'s quantized logit
    * > 0) drops junk, (2) DSIR importance resampling ([[graft.text.Dsir]])
    * pulls the survivors toward the target domain, (3) the temperature
    * mix flattens the REMAINING per-source masses (the mixture balances
    * what actually ships, like [[qualityMix]]). Per-doc coin flips are
    * independent per stage (each stage's own salt), and DSIR's per-doc
    * purity (TrancheSpec) is what makes stage order well-defined. HASH-
    * GATED end-to-end by composing the three factored mirrors
    * ([[TextQueries.qualityLogitCtes]] + [[dsirKeptCtes]] + the mix
    * arithmetic) — no stage's oracle text is duplicated, so none can
    * drift. Scale shape: one cached gate-scoring pass, one DSIR scoring
    * pass over the gated survivors (bounded broadcast joins), one
    * bounded per-source mass broadcast, pure-expression acceptance —
    * three shuffles total, nothing corpus-sized collected. Report:
    * (source, n_docs, n_quality, n_dsir, n_kept, threshold) with LEFT
    * joins so a source fully dropped at any stage still reports. */
  def dsirMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qm = TextQueries.qualityModel(spark, dir)
    TextQueries.publishQualityWeights(spark, dir, qm) // repair no-op
    val dm = dsirModel(spark, dir)
    publishDsirSidecars(spark, dir, dm) // repair no-op
    val docs = VectorModel.documents(spark, dir)
    val gatedIds = graft.store.CacheRegistry.cached(
      graft.text.QualityModel.score(docs.select("doc_id", "text"), qm)
        .where(col("is_quality") === 1L).select("doc_id"))
    val gated = docs.join(gatedIds, Seq("doc_id"), "left_semi")
    val dsirIds = graft.store.CacheRegistry.cached(
      graft.text.Dsir.decisions(gated, dm)
        .where(col("kept") === 1L).select("doc_id"))
    val survivors = gated.join(dsirIds, Seq("doc_id"), "left_semi")
    val rates = survivors.groupBy("source").agg(sum("n_chars").as("mass"))
      .withColumn("mmax", max("mass").over(Window.partitionBy()))
      .select(col("source"),
        floor(sqrt(col("mass").cast("double") / col("mmax").cast("double"))
          * MixBuckets.toDouble).cast("long").as("threshold"))
    val kept = survivors
      .join(broadcast(rates), "source")
      .withColumn("bucket", pmod(
        Dedup.hash60(concat(col("doc_id").cast("string"), lit(MixSalt))),
        lit(MixBuckets)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_dsir"),
        sum(when(col("bucket") < col("threshold"), 1L).otherwise(0L)).as("n_kept"),
        max("threshold").as("threshold"))
    val nQuality = gated.groupBy("source").agg(count(lit(1)).as("n_quality"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(nQuality, Seq("source"), "left")
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_dsir"), lit(0L)).as("n_dsir"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("threshold"), lit(0L)).as("threshold"))
      .orderBy("source")
  }

  lazy val dsirMixSql: String =
    s"""WITH ${TextQueries.qualityLogitCtes},
       |ql AS (SELECT d.doc_id AS doc_id
       |  FROM d CROSS JOIN b
       |  WHERE ${TextQueries.qualityLogitExpr} > CAST('0.0' AS DOUBLE)),
       |g AS (SELECT doc.* FROM documents doc JOIN ql USING (doc_id)),
       |${dsirKeptCtes("g")},
       |sv AS (SELECT g.* FROM g JOIN dk USING (doc_id) WHERE dk.kept = 1),
       |m AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
       |      FROM sv GROUP BY source),
       |r AS (SELECT source,
       |        CAST(floor(sqrt(CAST(mass AS DOUBLE) / CAST((SELECT max(mass) FROM m) AS DOUBLE))
       |          * ${MixBuckets}.0) AS BIGINT) AS threshold
       |      FROM m),
       |k AS (SELECT sv.source, r.threshold,
       |        ('0x' || substr(md5(sv.doc_id::VARCHAR || '$MixSalt'), 1, 15))::BIGINT % $MixBuckets AS bucket
       |      FROM sv JOIN r USING (source)),
       |kk AS (SELECT source, count(*) AS n_dsir,
       |        CAST(sum(CASE WHEN bucket < threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |        max(threshold) AS threshold
       |      FROM k GROUP BY source),
       |nq AS (SELECT source, count(*) AS n_quality FROM g GROUP BY source),
       |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
       |SELECT nd.source AS source, nd.n_docs AS n_docs,
       |  CAST(COALESCE(nq.n_quality, 0) AS BIGINT) AS n_quality,
       |  CAST(COALESCE(kk.n_dsir, 0) AS BIGINT) AS n_dsir,
       |  CAST(COALESCE(kk.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(COALESCE(kk.threshold, 0) AS BIGINT) AS threshold
       |FROM nd LEFT JOIN nq USING (source) LEFT JOIN kk USING (source)
       |ORDER BY nd.source""".stripMargin

  // ---- perplexity gate ----------------------------------------------------

  /** Perplexity-gated corpus cut — the CCNet serving step over
    * [[TextQueries.perplexityScores]]: keep documents whose cross-entropy
    * under the English-reference bigram LM is BELOW THE CORPUS'S POOLED
    * cross-entropy. The cut is RELATIVE by design: the model's absolute
    * nats level shifts with reference-slice size (measured 5.9 → 4.1
    * across the SFs as the en slice grows), so any fixed gate constant
    * is wrong at some scale — CCNet's own cut is distribution-relative
    * (percentile bands) for the same reason. A percentile needs a global
    * sort; the pooled mean needs ONE two-column aggregate, so the
    * threshold is Σnll_q div Σn_bigrams (exact integer division over the
    * scored docs), each doc keeps iff its own integer micro-nats mean is
    * strictly below it, and the whole gate stays hash-exact with no
    * float anywhere. Docs without bigrams are unscored and never kept (a
    * quality gate drops no-evidence docs). Reports the per-lang ledger:
    * the reference language passes at a visibly higher rate.
    *
    * Scale shape: the scoring pass (bounded broadcasts + one doc-keyed
    * shuffle, [[graft.text.NgramLm.score]]), one scalar aggregate, one
    * broadcast scalar join, one bounded per-lang ledger aggregate. */
  def perplexityGate(spark: SparkSession, dir: String): DataFrame = {
    val m = TextQueries.lmModel(spark, dir)
    TextQueries.publishLmSidecars(spark, dir, m) // repair no-op
    val docs = VectorModel.documents(spark, dir)
    // the scoring pass (explode + weight joins + doc-keyed shuffle) feeds
    // BOTH the threshold aggregate and the acceptance branch — cache it
    // (CacheRegistry) or the corpus is scored twice (the recurring
    // shared-lineage class)
    val scores = graft.store.CacheRegistry.cached(
      graft.text.NgramLm.score(docs.select("doc_id", "text"), m))
    val thr = scores.where(col("n_bigrams") > 0)
      .agg(expr("sum(nll_q) div sum(n_bigrams)").as("thr_micro"))
    val decided = scores.crossJoin(broadcast(thr))
      .withColumn("kept",
        when(col("n_bigrams") > 0 &&
          expr("nll_q div n_bigrams") < col("thr_micro"), 1L).otherwise(0L))
    docs.select("doc_id", "lang").join(decided, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_bigrams") > 0, 1L).otherwise(0L)).as("n_scored"),
        sum("kept").as("n_kept"),
        max("thr_micro").as("thr_micro"))
      .orderBy("lang")
  }

  lazy val perplexityGateSql: String =
    s"""WITH ${TextQueries.lmNatsCtes("documents")},
       |lthr AS (SELECT CAST(sum(nll_q) AS BIGINT) // CAST(sum(n_bigrams) AS BIGINT)
       |    AS thr_micro FROM ln WHERE n_bigrams > 0),
       |ldec AS (SELECT doc_id, n_bigrams,
       |    CASE WHEN n_bigrams > 0 AND nll_q // n_bigrams < thr_micro
       |      THEN 1 ELSE 0 END AS kept
       |  FROM ln CROSS JOIN lthr)
       |SELECT d.lang AS lang, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN ldec.n_bigrams > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_scored,
       |  CAST(sum(ldec.kept) AS BIGINT) AS n_kept,
       |  (SELECT thr_micro FROM lthr) AS thr_micro
       |FROM documents d JOIN ldec USING (doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ---- stratified sampling ------------------------------------------------

  /** Per-stratum sample size for [[stratifiedSample]]. */
  val StratSampleSize = 64

  /** Deterministic stratified sample: exactly min([[StratSampleSize]], n)
    * documents PER LANGUAGE STRATUM by md5 priority, each row carrying its
    * stratum's population size — the balanced-sample primitive an eval
    * set, labeling budget, or per-domain inspection pulls from a skewed
    * corpus (a uniform corpus sample is dominated by the majority
    * stratum; this one guarantees every stratum its quota). "Bottom s by
    * an md5 priority" is a uniform stratum sample that is ORDER-FREE
    * (the [[AnalyticsQueries.quantileSketch]] argument) and exactly
    * mirrorable by the same hash, unlike rand()/reservoir sampling.
    *
    * Scale shape: [[graft.operators.TopK.perGroupBottomS]] truncates to s
    * per (stratum, partition) MAP-SIDE, so the sample shuffle carries ≤ s
    * rows per stratum per task however large the corpus; the population
    * counts are one bounded aggregate joined back onto the ≤ strata·s
    * sampled rows. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = VectorModel.documents(spark, dir)
    val kept = graft.operators.TopK.perGroupBottomS(
      docs.select(col("lang"),
        Dedup.hash60(concat(lit("strat:"), col("doc_id").cast("string")))
          .as("pri"),
        col("doc_id").cast("double").as("v")),
      "lang", col("pri"), col("v"), StratSampleSize)
      .select(col("lang"), col("value").cast("long").as("doc_id"))
    val sizes = docs.groupBy("lang").agg(count(lit(1)).as("n_stratum"))
    kept.join(broadcast(sizes), "lang")
      .select(col("lang"), col("doc_id"), col("n_stratum"))
      .orderBy("lang", "doc_id")
  }

  lazy val stratifiedSampleSql: String =
    s"""WITH pri AS (SELECT lang, doc_id,
       |    ('0x'||substr(md5('strat:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS pri
       |  FROM documents),
       |keep AS (SELECT lang, doc_id FROM (
       |    SELECT lang, doc_id,
       |      row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rn
       |    FROM pri) WHERE rn <= $StratSampleSize),
       |sz AS (SELECT lang, count(*) AS n_stratum FROM documents GROUP BY lang)
       |SELECT k.lang AS lang, k.doc_id AS doc_id, sz.n_stratum AS n_stratum
       |FROM keep k JOIN sz USING (lang) ORDER BY lang, doc_id""".stripMargin

  /** Diversity sampling over LEARNED domains — [[stratifiedSample]] with
    * the stratum a MODEL output instead of a label: assign every doc its
    * nearest learned-domain centroid ([[domainModel]] — the k-means
    * domain discovery [[domainMix]] serves), then take exactly
    * min([[StratSampleSize]], n) docs per domain by md5 priority. The
    * balanced-eval-set primitive for the 100 TB corpus that HAS no
    * labels: a uniform sample is dominated by the heaviest content
    * domain; this one guarantees every discovered domain its quota.
    * HASH-GATED end-to-end by composing the two factored mirrors —
    * the assignment chain ([[domainAsgCtes]], shared with
    * `pipe_domain_mix`) and the bottom-s cut ([[stratifiedSampleSql]]'s
    * shape) — so neither stage can drift.
    *
    * Scale shape: one embed+assign codegen projection pass (model state
    * rides the plan), then the map-side-truncating bottom-s — the
    * shuffle carries ≤ s rows per domain per task; domain populations
    * are one bounded aggregate onto the ≤ domains·s sampled rows. */
  def diverseSample(spark: SparkSession, dir: String): DataFrame = {
    val m = domainModel(spark, dir)
    publishDomainCentroids(spark, dir, m) // repair no-op unless dir switched
    val emb = new graft.text.HashEmbedder(TextQueries.EmbedDim)
    // assignment feeds BOTH the sample and the population count — cached,
    // the domainMix precedent (one embed pass, not two)
    val assigned = graft.store.CacheRegistry.cached(
      graft.index.Ivf.assign(
        VectorModel.documents(spark, dir)
          .select(col("doc_id"), emb.embed(col("text")).as("vector")),
        m)
        .select(col("doc_id"), col("cluster_id").as("domain")))
    val kept = graft.operators.TopK.perGroupBottomS(
      assigned.select(col("domain"),
        Dedup.hash60(concat(lit("divs:"), col("doc_id").cast("string")))
          .as("pri"),
        col("doc_id").cast("double").as("v")),
      "domain", col("pri"), col("v"), StratSampleSize)
      .select(col("domain"), col("value").cast("long").as("doc_id"))
    val sizes = assigned.groupBy("domain").agg(count(lit(1)).as("n_domain"))
    kept.join(broadcast(sizes), "domain")
      .select(col("domain"), col("doc_id"), col("n_domain"))
      .orderBy("domain", "doc_id")
  }

  lazy val diverseSampleSql: String =
    s"""WITH $domainAsgCtes,
       |dpri AS (SELECT asg.cluster_id AS domain, asg.doc_id AS doc_id,
       |    ('0x'||substr(md5('divs:'||CAST(asg.doc_id AS VARCHAR)),1,15))::BIGINT AS pri
       |  FROM asg),
       |dkeep AS (SELECT domain, doc_id FROM (
       |    SELECT domain, doc_id,
       |      row_number() OVER (PARTITION BY domain ORDER BY pri, doc_id) AS rn
       |    FROM dpri) WHERE rn <= $StratSampleSize),
       |dsz AS (SELECT domain, count(*) AS n_domain FROM dpri GROUP BY domain)
       |SELECT CAST(k.domain AS INTEGER) AS domain, k.doc_id AS doc_id,
       |  dsz.n_domain AS n_domain
       |FROM dkeep k JOIN dsz USING (domain) ORDER BY domain, doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_perplexity_gate" -> (perplexityGate _),
    "pipe_stratified_sample" -> (stratifiedSample _),
    "pipe_diverse_sample" -> (diverseSample _),
    "pipe_domain_mix" -> (domainMix _),
    "pipe_dsir_mix" -> (dsirMix _),
    "pipe_dsir_sample" -> (dsirSample _),
    "pipe_pack_spans" -> (packSpans _),
    "pipe_export_shards" -> (exportShards _),
    "pipe_export_shards_bpe" -> (exportShardsBpe _),
    "pipe_corpus_shards" -> (corpusShards _),
    "pipe_corpus_shards_bpe" -> (corpusShardsBpe _),
    "pipe_corpus_shards_trained" -> (corpusShardsTrained _),
    "pipe_audit" -> (auditCorpus _),
    "pipe_split_audit" -> (splitAudit _),
    "pipe_pack_ffd" -> (packFfd _),
    "pipe_pack_bpe" -> (packBpe _),
    "pipe_shuffle_shards" -> (shuffleShards _),
    "pipe_temperature_mix" -> (temperatureMix _),
    "pipe_epoch_mix" -> (epochMix _),
    "pipe_quality_mix" -> (qualityMix _),
    "pipe_rag_e2e" -> (ragEndToEnd _),
    "pipe_clean_corpus" -> (cleanCorpus _),
    "pipe_decontaminate" -> (decontaminate _),
    "pipe_decontaminate_semantic" -> (decontaminateSemantic _),
    "pipe_decontaminate_semantic_ivf" -> (decontaminateSemanticIvf _),
    "pipe_decontaminate_semantic_ivf_parity" -> (decontaminateSemanticIvfParity _),
    "pipe_host_filter" -> (hostFilter _),
    "pipe_crawl_corpus" -> (crawlCorpus _),
    "pipe_train_corpus_fuzzy" -> (trainCorpusFuzzy _),
    "pipe_train_corpus_semantic" -> (trainCorpusSemantic _),
    "pipe_train_corpus" -> (trainCorpus _),
    "pipe_pack" -> (pack _),
    "pipe_split_leakproof" -> (leakproofSplit _),
    "pipe_curated_mix" -> (curatedMix _))

  val oracleSql: Map[String, String] = Map(
    "pipe_perplexity_gate" -> perplexityGateSql,
    "pipe_stratified_sample" -> stratifiedSampleSql,
    "pipe_diverse_sample" -> diverseSampleSql,
    "pipe_domain_mix" -> domainMixSql,
    "pipe_dsir_mix" -> dsirMixSql,
    "pipe_dsir_sample" -> dsirSampleSql,
    "pipe_pack_spans" -> packSpansSql,
    "pipe_export_shards" -> exportShardsSql,
    "pipe_export_shards_bpe" -> exportShardsBpeSql,
    "pipe_corpus_shards" -> corpusShardsSql,
    "pipe_corpus_shards_bpe" -> corpusShardsBpeSql,
    "pipe_corpus_shards_trained" -> corpusShardsTrainedSql,
    "pipe_audit" -> auditCorpusSql,
    "pipe_split_audit" -> splitAuditSql,
    "pipe_pack_ffd" -> packFfdSql,
    "pipe_pack_bpe" -> packBpeSql,
    "pipe_shuffle_shards" -> shuffleShardsSql,
    "pipe_temperature_mix" -> temperatureMixSql,
    "pipe_epoch_mix" -> epochMixSql,
    "pipe_quality_mix" -> qualityMixSql,
    "pipe_clean_corpus" -> cleanCorpusSql,
    "pipe_decontaminate" -> decontaminateSql,
    "pipe_decontaminate_semantic" -> decontaminateSemanticSql,
    "pipe_decontaminate_semantic_ivf_parity" -> decontaminateSemanticIvfParitySql,
    "pipe_host_filter" -> hostFilterSql,
    "pipe_crawl_corpus" -> crawlCorpusSql,
    "pipe_train_corpus_fuzzy" -> trainCorpusFuzzySql,
    "pipe_train_corpus_semantic" -> trainCorpusSemanticSql,
    "pipe_train_corpus" -> trainCorpusSql,
    "pipe_pack" -> packSql,
    "pipe_split_leakproof" -> leakproofSplitSql,
    "pipe_curated_mix" -> curatedMixSql)
}
