package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.VectorModel
import graft.text.TextAnalysis

/** Text-analysis queries over the `documents` table with DuckDB mirrors. */
object TextQueries {

  /** Token statistics: whitespace tokens, lexer tokens, char count. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    VectorModel.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextAnalysis.lexTokenCount(col("text")).cast("long").as("n_lex_tokens"),
      length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")

  val tokenStatsSql: String =
    s"""SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  len(regexp_extract_all(text, '${TextAnalysis.LexPattern}')) AS n_lex_tokens,
       |  length(text) AS n_chars
       |FROM documents ORDER BY doc_id""".stripMargin

  private def duckMarkerCount(markers: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), t -> t IN (${markers.map(m => s"'$m'").mkString(", ")})))"

  /** Quality scoring: stopword ratio, mean token length, composite score. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    VectorModel.documents(spark, dir).select(
      col("doc_id"),
      round(TextAnalysis.stopwordRatio(col("text")), 6).as("stop_ratio"),
      round(TextAnalysis.avgTokenLen(col("text")), 6).as("avg_token_len"),
      round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
      .orderBy("doc_id")

  val qualitySql: String = {
    val nTok = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
    val stopRatio = s"CAST(${duckMarkerCount(TextAnalysis.Stopwords)} AS DOUBLE) / $nTok"
    val avgLen = s"CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) / $nTok"
    val lenFactor = s"least($nTok / CAST('100.0' AS DOUBLE), CAST('1.0' AS DOUBLE))"
    s"""SELECT doc_id,
       |  round($stopRatio, 6) AS stop_ratio,
       |  round($avgLen, 6) AS avg_token_len,
       |  round((CAST('1.0' AS DOUBLE) - $stopRatio) * $lenFactor, 6) AS quality
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Content fingerprints: exact md5 + order-insensitive sorted-token md5. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    VectorModel.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.sortedTokenFingerprint(col("text")).as("sorted_fp"))
      .orderBy("doc_id")

  val fingerprintsSql: String =
    """SELECT doc_id, md5(text) AS fp,
      |  md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' ')) AS sorted_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic vs the table's lang label, plus marker score. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    VectorModel.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang_pred"),
      col("lang").as("lang_label"))
      .orderBy("doc_id")

  val langIdSql: String = {
    val scores = TextAnalysis.LangMarkers.map { case (lang, markers) =>
      lang -> duckMarkerCount(markers)
    }
    val allZero = scores.map { case (_, s) => s"$s = 0" }.mkString(" AND ")
    val chain = scores.zipWithIndex.map { case ((lang, s), i) =>
      val rest = scores.drop(i + 1).map(_._2)
      rest match {
        case Seq() => s"ELSE '$lang'"
        case Seq(only) => s"WHEN $s >= $only THEN '$lang'"
        case many => s"WHEN $s >= greatest(${many.mkString(", ")}) THEN '$lang'"
      }
    }
    s"""SELECT doc_id,
       |  CASE WHEN $allZero THEN 'und'
       |       ${chain.init.mkString(" ")}
       |       ${chain.last} END AS lang_pred,
       |  lang AS lang_label
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Order-sensitive polynomial rolling fingerprint per document. */
  def rollingFp(spark: SparkSession, dir: String): DataFrame = {
    val p = TextAnalysis.RollP
    // widen the scan so per-token md5 work runs at session parallelism
    graft.operators.Par.widen(VectorModel.documents(spark, dir))
      .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
      .groupBy("doc_id")
      .agg((sum(TextAnalysis.rollingFingerprint(col("tok"), col("pos"))) % p).as("rolling_fp"))
      .orderBy("doc_id")
  }

  val rollingFpSql: String = {
    val p = TextAnalysis.RollP
    s"""SELECT doc_id,
       |  CAST(sum((('0x'||substr(md5(tok),1,15))::BIGINT % $p) * (pos + 1) % $p) AS BIGINT) % $p AS rolling_fp
       |FROM (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |    unnest(range(len(string_split(text, ' ')))) AS pos
       |  FROM documents)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Within-document repetition metrics (Gopher-style quality filters):
    * duplicate 2-gram / 3-gram fractions and the top-word frequency ratio.
    * Pure per-row expressions — no shuffle, no explode. Docs shorter than
    * 3 tokens are excluded (both engines) so every n-gram list is
    * non-empty. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    VectorModel.documents(spark, dir)
      .where(TextAnalysis.tokenCount(col("text")) >= 3)
      .select(
        col("doc_id"),
        round(TextAnalysis.dupNgramFrac(col("text"), 2), 6).as("dup_2gram_frac"),
        round(TextAnalysis.dupNgramFrac(col("text"), 3), 6).as("dup_3gram_frac"),
        round(TextAnalysis.topWordFrac(col("text")), 6).as("top_word_frac"))
      .orderBy("doc_id")

  val repetitionSql: String = {
    val one = OracleSql.lit(1.0)
    def grams(n: Int) =
      s"[array_to_string(toks[i:i+${n - 1}], ' ') for i in range(1, len(toks)-${n - 2})]"
    def dupFrac(n: Int) =
      s"$one - CAST(len(list_distinct(${grams(n)})) AS DOUBLE) / CAST(len(${grams(n)}) AS DOUBLE)"
    val topFrac =
      "CAST(list_max([len(list_filter(toks, t -> t = w)) for w in list_distinct(toks)]) AS DOUBLE)" +
        " / CAST(len(toks) AS DOUBLE)"
    s"""SELECT doc_id,
       |  round(${dupFrac(2)}, 6) AS dup_2gram_frac,
       |  round(${dupFrac(3)}, 6) AS dup_3gram_frac,
       |  round($topFrac, 6) AS top_word_frac
       |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
       |WHERE len(toks) >= 3 ORDER BY doc_id""".stripMargin
  }

  /** JSONL ingest/egress gated by the driver oracle: the documents table
    * round-trips through JSONL (write once per dataset dir, memoized —
    * the build/serve split every layout uses) and the aggregate over the
    * RE-READ JSONL must hash-match DuckDB's aggregate over the original
    * parquet — any type drift or row loss in the source shows up as a
    * value mismatch. */
  def jsonlAgg(spark: SparkSession, dir: String): DataFrame =
    sourceRoundTripAgg(spark, dir, jsonlLayoutCache, "graft_jsonl_layout",
      graft.sources.JsonlSource.write(_, _),
      graft.sources.JsonlSource.readDocuments(_, _))

  private val jsonlLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Shared write-once/read-back/aggregate body of the source round-trip
    * oracle queries — one aggregation definition, so the JSONL and CSV
    * gates cannot silently diverge. */
  private def sourceRoundTripAgg(spark: SparkSession, dir: String,
      cache: java.util.concurrent.ConcurrentHashMap[String, String],
      scratchPrefix: String,
      write: (DataFrame, String) => Unit,
      read: (SparkSession, String) => DataFrame): DataFrame = {
    val path = cache.computeIfAbsent(dir, _ => {
      val p = graft.store.Fs.scratchDir(spark, scratchPrefix) + "/docs"
      write(VectorModel.documents(spark, dir), p)
      p
    })
    read(spark, path)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  val jsonlAggSql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** CSV round-trip twin of [[jsonlAgg]] — the corpus egresses to
    * RFC-4180 CSV ([[graft.sources.CsvSource]]) and re-ingests through
    * the explicit-schema reader; the aggregation over the round-tripped
    * rows must hash-match the oracle over the parquet source, proving
    * quoting/escaping loses nothing (free text with commas, quotes, and
    * newlines included). */
  def csvAgg(spark: SparkSession, dir: String): DataFrame =
    sourceRoundTripAgg(spark, dir, csvLayoutCache, "graft_csv_layout",
      graft.sources.CsvSource.write(_, _),
      graft.sources.CsvSource.readDocuments(_, _))

  private val csvLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  val csvAggSql: String = jsonlAggSql

  /** ORC round-trip twin of [[jsonlAgg]]/[[csvAgg]] — egress to ORC,
    * re-ingest through the schema-verifying reader, aggregate; columnar
    * fidelity gated the same way as the text formats. */
  def orcAgg(spark: SparkSession, dir: String): DataFrame =
    sourceRoundTripAgg(spark, dir, orcLayoutCache, "graft_orc_layout",
      graft.sources.OrcSource.write(_, _),
      graft.sources.OrcSource.readDocuments(_, _))

  private val orcLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  val orcAggSql: String = jsonlAggSql

  /** Avro round-trip twin of [[jsonlAgg]]/[[csvAgg]]/[[orcAgg]] — egress
    * to Avro container files via the avro-mapred Hadoop formats
    * ([[graft.sources.AvroSource]], this container ships no spark-avro
    * module), re-ingest through the writer-schema-verifying reader,
    * aggregate; record-format fidelity gated the same way as the other
    * interchange formats. */
  def avroAgg(spark: SparkSession, dir: String): DataFrame =
    sourceRoundTripAgg(spark, dir, avroLayoutCache, "graft_avro_layout",
      graft.sources.AvroSource.write(_, _),
      graft.sources.AvroSource.readDocuments(_, _))

  private val avroLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  val avroAggSql: String = jsonlAggSql

  /** WARC round-trip twin — the corpus-ACQUISITION front door rather
    * than an interchange format: the documents table egresses as WARC
    * response records whose HTTP payloads are full HTML pages
    * ([[graft.sources.WarcSource]]), and re-ingests through the fail-loud
    * record parser + byte-exact article recovery. The aggregate over the
    * re-read crawl must hash-match the oracle over the original parquet —
    * any framing slip, header drift, or escape asymmetry shows up as a
    * value mismatch. */
  def warcAgg(spark: SparkSession, dir: String): DataFrame =
    sourceRoundTripAgg(spark, dir, warcLayoutCache, "graft_warc_layout",
      graft.sources.WarcSource.write(_, _),
      graft.sources.WarcSource.readDocuments(_, _))

  private val warcLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The memoized WARC egress path — shared by [[warcAgg]] and the
    * acquisition capstone (`pipe_crawl_corpus`); a Bench build step. */
  private[graft] def warcLayoutPath(spark: SparkSession, dir: String): String =
    warcLayoutCache.computeIfAbsent(dir, _ => {
      val p = graft.store.Fs.scratchDir(spark, "graft_warc_layout") + "/docs"
      graft.sources.WarcSource.write(VectorModel.documents(spark, dir), p)
      p
    })

  val warcAggSql: String = jsonlAggSql

  /** Member-gzip WARC round-trip twin of [[warcAgg]] — the Common Crawl
    * layout ([[graft.sources.WarcSource.writeGz]]): each record is its
    * own gzip member, files decompress as member concatenations with
    * per-file parallelism; the same fail-loud parser serves both
    * layouts. */
  def warcGzAgg(spark: SparkSession, dir: String): DataFrame =
    sourceRoundTripAgg(spark, dir, warcGzLayoutCache, "graft_warc_gz_layout",
      graft.sources.WarcSource.writeGz(_, _),
      graft.sources.WarcSource.readDocuments(_, _))

  private val warcGzLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Phase-1 memo of the member-gzip egress: archive parts + text cdx
    * sidecars, UNPUBLISHED (no marker) — the Bench build step
    * `build_warc_gz_layout`, timing the archive write alone. */
  private[graft] def warcGzArchivesPath(spark: SparkSession, dir: String): String =
    warcGzArchivesCache.computeIfAbsent(dir, _ => {
      val p = graft.store.Fs.scratchDir(spark, "graft_warc_gz_layout") + "/docs"
      graft.sources.WarcSource.writeGzArchives(
        VectorModel.documents(spark, dir), p)
      p
    })

  private val warcGzArchivesCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The memoized member-gzip egress (same cache [[warcGzAgg]] fills) —
    * shared with the point-fetch entry. Under the bench this is the
    * SECOND build step (`build_warc_cdx_index`): the cdx→parquet index
    * conversion + commit marker over the phase-1 archives, timed on its
    * own because its cost grows with crawl size and must stay
    * individually visible in the ledger. */
  private[graft] def warcGzLayoutPath(spark: SparkSession, dir: String): String =
    warcGzLayoutCache.computeIfAbsent(dir, _ => {
      val p = warcGzArchivesPath(spark, dir)
      graft.sources.WarcSource.indexAndPublish(spark, p)
      p
    })

  val warcGzAggSql: String = jsonlAggSql

  /** Bounded candidate count for the archive point-fetch entry. */
  val WarcFetchK = 16

  /** CDX point-fetch over the member-gzip crawl, hash-gated: a
    * deterministic scattered candidate set (md5-ordered first
    * [[WarcFetchK]] ids — the same derivation the oracle runs in SQL)
    * fetches through [[graft.sources.WarcSource.fetchDocumentsById]] —
    * cdx-pruned ranged reads + single-member gunzips, I/O ∝ candidates —
    * and the recovered rows must hash-match the documents table row for
    * row in all five columns. */
  def warcFetch(spark: SparkSession, dir: String): DataFrame = {
    val path = warcGzLayoutPath(spark, dir)
    val ids = VectorModel.documents(spark, dir).select("doc_id")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(WarcFetchK).collect().map(_.getLong(0)).toSeq
    graft.sources.WarcSource.fetchDocumentsById(spark, path, ids)
      .orderBy("doc_id")
  }

  val warcFetchSql: String =
    s"""SELECT doc_id, text, lang, source, n_chars FROM documents
       |WHERE doc_id IN (
       |  SELECT doc_id FROM documents
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $WarcFetchK)
       |ORDER BY doc_id""".stripMargin

  /** Gzip-JSONL round-trip twin of [[jsonlAgg]]
    * ([[graft.sources.JsonlSource.writeGz]]) — proves the compressed-text
    * read path end to end (codec resolution by extension, schema'd read,
    * no row loss) with the non-splittability trade documented at the
    * writer: parallelism is per-FILE, so the egress keeps many
    * moderate files rather than one big stream. */
  def jsonlGzAgg(spark: SparkSession, dir: String): DataFrame =
    sourceRoundTripAgg(spark, dir, jsonlGzLayoutCache, "graft_jsonl_gz_layout",
      graft.sources.JsonlSource.writeGz(_, _),
      graft.sources.JsonlSource.readDocuments(_, _))

  private val jsonlGzLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  val jsonlGzAggSql: String = jsonlAggSql

  /** Zstd-JSONL round-trip twin of [[jsonlGzAgg]]
    * ([[graft.sources.JsonlSource.writeZst]]) — the compression public
    * corpora increasingly ship in, served by a pure-JVM codec since the
    * Hadoop-native one needs a zstd-enabled libhadoop. Same
    * non-splittability trade, documented at the writer. */
  def jsonlZstAgg(spark: SparkSession, dir: String): DataFrame =
    sourceRoundTripAgg(spark, dir, jsonlZstLayoutCache, "graft_jsonl_zst_layout",
      graft.sources.JsonlSource.writeZst(_, _),
      graft.sources.JsonlSource.readDocumentsZst(_, _))

  private val jsonlZstLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  val jsonlZstAggSql: String = jsonlAggSql

  /** HTML → text extraction over the planted page fixture
    * ([[graft.text.HtmlText]]): each document's text wraps into a full
    * boilerplate page IN-QUERY on BOTH engines (head matter, a script
    * whose body contains a literal `</p>`, nav/footer chrome, a comment),
    * then the fixed extraction chain — element removal, block-break
    * newlines, tag strip, entity decode, whitespace normalization —
    * recovers the readable text. Hash-gated on the FULL extracted string,
    * so every regex step must agree byte-for-byte across the two regex
    * engines. */
  def htmlText(spark: SparkSession, dir: String): DataFrame =
    VectorModel.documents(spark, dir)
      .select(col("doc_id"),
        graft.text.HtmlText.extract(
          graft.text.HtmlText.page(col("doc_id"), col("text"))).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id")

  /** Host-level crawl stats over canonicalized URLs
    * ([[graft.text.Urls]]): per host, raw fetch count, DISTINCT canonical
    * pages (the duplicate-fetch gap between the two is what URL
    * canonicalization saves before any content pass), and the https
    * share. The planted URL-variant fixture exercises every
    * canonicalization rule at every SF. */
  def urlStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Urls
    Urls.urlCorpus(VectorModel.documents(spark, dir))
      .select(Urls.host(col("url")).as("host"),
        Urls.scheme(col("url")).as("sch"),
        Urls.canonical(col("url")).as("curl"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("curl")).as("n_pages"),
        sum(when(col("sch") === "https", 1L).otherwise(0L)).as("n_https"))
      .orderBy("host")
  }

  val urlStatsSql: String =
    s"""WITH ${graft.text.Urls.canonicalCtesSql(graft.text.Urls.urlCorpusSql)}
       |SELECT host, count(*) AS n_urls,
       |  CAST(count(DISTINCT curl) AS BIGINT) AS n_pages,
       |  CAST(sum(CASE WHEN sch = 'https' THEN 1 ELSE 0 END) AS BIGINT) AS n_https
       |FROM ucanon GROUP BY host ORDER BY host""".stripMargin

  /** Outlink extraction + host-level link stats — the crawl-frontier
    * step between a fetched page and the next fetch wave: every
    * `href="…"` attribute extracted from the fixture page
    * ([[graft.text.HtmlText.page]] plants one clean-https-with-tracking
    * and one case/port/fragment-mess absolute link per page), relative
    * links dropped, absolute ones CANONICALIZED ([[graft.text.Urls]]) so
    * the frontier dedupes before fetching, aggregated per host. One
    * expression chain + one host-keyed shuffle. */
  def outlinks(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Urls
    VectorModel.documents(spark, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(
          graft.text.HtmlText.page(col("doc_id"), col("text")),
          lit("href=\"([^\"]*)\""), lit(1))).as("url"))
      .where(col("url").rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"))
      .select(Urls.host(col("url")).as("host"),
        Urls.canonical(col("url")).as("curl"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("curl")).as("n_pages"))
      .orderBy("host")
  }

  val outlinksSql: String = {
    val page = graft.text.HtmlText.pageSql("d.doc_id", "d.text")
    s"""WITH pages AS (SELECT d.doc_id AS doc_id, $page AS html FROM documents d),
       |lnk AS (SELECT doc_id,
       |    unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS url
       |  FROM pages),
       |absl AS (SELECT doc_id, url FROM lnk
       |  WHERE regexp_matches(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://')),
       |${graft.text.Urls.canonicalCtesSql("SELECT * FROM absl")}
       |SELECT host, count(*) AS n_links,
       |  CAST(count(DISTINCT curl) AS BIGINT) AS n_pages
       |FROM ucanon GROUP BY host ORDER BY host""".stripMargin
  }

  val htmlTextSql: String =
    s"""SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
       |FROM (SELECT doc_id,
       |    ${graft.text.HtmlText.extractSql(
             graft.text.HtmlText.pageSql("doc_id", "text"))} AS text
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Corpus vocabulary top-N: total occurrences + document frequency per
    * lowercased whitespace token — the frequency table a
    * tokenizer-training / vocab-pruning / idf stage consumes. Classic
    * wordcount shape: map-side partial aggregation, one shuffle on the
    * token key, bounded TakeOrderedAndProject — the 100 TB-safe way to
    * build a vocab (never collects the full type table). */
  val VocabTopN = 200

  def vocab(spark: SparkSession, dir: String): DataFrame =
    VectorModel.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_total"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_total").desc, col("token").asc)
      .limit(VocabTopN)

  val vocabSql: String =
    s"""SELECT token, CAST(count(*) AS BIGINT) AS n_total,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
       |GROUP BY token ORDER BY n_total DESC, token ASC LIMIT $VocabTopN""".stripMargin

  /** Rare-bigram threshold: a word bigram with fewer than this many
    * corpus occurrences counts as rare. */
  val RareBigramMin = 3L

  /** LM-free perplexity proxy — rare-bigram fraction: the share of a
    * doc's word bigrams whose corpus-wide occurrence count is below
    * [[RareBigramMin]]. High fractions flag incoherent/garbled text the
    * way high LM perplexity would, with no model and exact integer
    * arithmetic (oracle-exact, unlike log-prob scoring whose libm `ln`
    * is not bit-stable across engines).
    *
    * Scale shape: ONE exploded bigram pass, CACHED (CacheRegistry —
    * column pruning otherwise forks the count and probe branches into two
    * full scan+explode+shuffle subtrees that ReuseExchange cannot match),
    * feeding both the count aggregate and the per-doc re-join, shuffled
    * on the bigram key; neither the count table nor the per-doc aggregate
    * is ever broadcast — both grow with the corpus. */
  def bigramRarity(spark: SparkSession, dir: String): DataFrame = {
    val docs = VectorModel.documents(spark, dir)
    val grams = graft.store.CacheRegistry.cached(
      graft.operators.Par.widenBy(
        docs.where(size(split(col("text"), " ")) >= 2)
          .select(col("doc_id"),
            explode(graft.dedup.Dedup.ngrams(col("text"), 2)).as("gram")),
        col("gram")))
    val counts = grams.groupBy("gram").agg(count(lit(1)).as("n"))
    val perDoc = grams
      .join(counts.hint("shuffle_hash"), "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("n") < RareBigramMin, 1L).otherwise(0L)).as("n_rare"))
    docs.select(col("doc_id"))
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"))
      .withColumn("rare_frac",
        when(col("n_bigrams") === 0L, lit(0.0))
          .otherwise(round(col("n_rare").cast("double") /
            col("n_bigrams").cast("double"), 6)))
      .orderBy("doc_id")
  }

  val bigramRaritySql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(
       |        [toks[i]||' '||toks[i+1] for i in range(1, len(toks))]) AS gram
       |      FROM t WHERE len(toks) >= 2),
       |c AS (SELECT gram, count(*) AS n FROM g GROUP BY gram),
       |pd AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |         CAST(sum(CASE WHEN c.n < $RareBigramMin THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
       |       FROM g JOIN c USING (gram) GROUP BY g.doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  CAST(COALESCE(pd.n_rare, 0) AS BIGINT) AS n_rare,
       |  CASE WHEN COALESCE(pd.n_bigrams, 0) = 0 THEN CAST('0.0' AS DOUBLE)
       |       ELSE round(CAST(pd.n_rare AS DOUBLE) / CAST(pd.n_bigrams AS DOUBLE), 6)
       |  END AS rare_frac
       |FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin

  /** EPOCH-ordered batch twin of the incremental bigram-rarity scorer
    * ([[graft.streaming.StreamingIngest.bigramRarityIngestBatch]]):
    * epoch e's docs are scored against the CUMULATIVE corpus bigram
    * counts through e — earlier epochs' scores are FROZEN (a doc is
    * scored once, at arrival, the way a streaming curation gate scores
    * it), and a single-epoch input degenerates to exactly
    * [[bigramRarity]]. The cumulative counts are a per-gram window
    * cumsum over the bounded per-(gram, epoch) aggregate; each doc's
    * grams join the cum row of the doc's own epoch (which exists — the
    * doc itself contributed to it). */
  private[graft] def bigramRarityEpochs(docs: DataFrame,
      epochCol: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs.withColumn("epoch", epochCol.cast("long"))
    val grams = graft.store.CacheRegistry.cached(
      d.where(size(split(col("text"), " ")) >= 2)
        .select(col("doc_id"), col("epoch"),
          explode(graft.dedup.Dedup.ngrams(col("text"), 2)).as("gram")))
    val cum = grams.groupBy("gram", "epoch").agg(count(lit(1)).as("n"))
      .withColumn("cn", sum("n").over(
        Window.partitionBy("gram").orderBy("epoch")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perDoc = grams.join(cum.hint("shuffle_hash"), Seq("gram", "epoch"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cn") < RareBigramMin, 1L).otherwise(0L)).as("n_rare"))
    d.select(col("doc_id"))
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"))
      .withColumn("rare_frac",
        when(col("n_bigrams") === 0L, lit(0.0))
          .otherwise(round(col("n_rare").cast("double") /
            col("n_bigrams").cast("double"), 6)))
  }

  /** RAG chunking parameters: 32-token windows, stride 16 (50% overlap). */
  val ChunkSize = 32
  val ChunkStride = 16

  /** Sliding-window token chunks per doc ([[TextAnalysis.chunks]]):
    * (doc_id, chunk_ix, chunk, n_chunk_tokens) — the retrieval-unit
    * explosion a RAG pipeline feeds to embedding + indexing. */
  def chunks(spark: SparkSession, dir: String): DataFrame =
    VectorModel.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(TextAnalysis.chunks(col("text"), ChunkSize, ChunkStride))
          .as(Seq("chunk_ix", "chunk")))
      .select(col("doc_id"), col("chunk_ix").cast("long").as("chunk_ix"),
        col("chunk"),
        TextAnalysis.tokenCount(col("chunk")).cast("long").as("n_chunk_tokens"))
      .orderBy("doc_id", "chunk_ix")

  val chunksSql: String =
    s"""SELECT doc_id, CAST(s // $ChunkStride AS BIGINT) AS chunk_ix,
       |  array_to_string(toks[s+1 : s+$ChunkSize], ' ') AS chunk,
       |  CAST(len(string_split(array_to_string(toks[s+1 : s+$ChunkSize], ' '), ' ')) AS BIGINT) AS n_chunk_tokens
       |FROM (SELECT doc_id, toks, unnest(range(0, len(toks), $ChunkStride)) AS s
       |      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
       |ORDER BY doc_id, chunk_ix""".stripMargin

  /** BM25 keyword relevance: fixed query-term bag, top 15 docs. */
  val Bm25Terms = Seq("vector", "spark", "join")

  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    graft.text.Bm25.topK(VectorModel.documents(spark, dir), Bm25Terms, 15)

  val bm25TopKSql: String = bm25Sql(15)

  /** BM25 oracle at an arbitrary list length (reused by the hybrid-RRF
    * oracle with its own limit). */
  def bm25Sql(limit: Int): String =
    bm25SqlOver("SELECT doc_id, text FROM documents", "doc_id", limit)

  /** BM25 oracle over an arbitrary `(idCol, text)` source subquery — the
    * same term-for-term arithmetic as [[graft.text.Bm25]], reusable for
    * doc- and chunk-granularity retrieval and arbitrary term bags. */
  def bm25SqlOver(sourceSql: String, idCol: String, limit: Int,
      queryTerms: Seq[String] = Bm25Terms): String = {
    import graft.text.Bm25.{B, K1}
    val lit = OracleSql.lit _
    val terms = queryTerms.map(t => s"'$t'").mkString(", ")
    val idf = s"ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + ${lit(0.5)})/(CAST(df AS DOUBLE) + ${lit(0.5)}) + ${lit(1.0)})"
    val avgdl = "(CAST(sum_dl AS DOUBLE)/CAST(n_docs AS DOUBLE))"
    val norm = s"(CAST(tf AS DOUBLE) + ${lit(K1)} * (${lit(1.0)} - ${lit(B)} + ${lit(B)} * CAST(dl AS DOUBLE)/$avgdl))"
    s"""WITH base AS (SELECT $idCol AS doc, string_split(lower(text), ' ') AS toks FROM ($sourceSql)),
       |dls AS (SELECT doc, CAST(len(toks) AS BIGINT) AS dl FROM base),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dls),
       |tf AS (SELECT doc, dl, term, count(*) AS tf
       |       FROM (SELECT doc, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS term FROM base)
       |       WHERE term IN ($terms) GROUP BY doc, dl, term),
       |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |scored AS (SELECT doc, $idf * (CAST(tf AS DOUBLE) * ${lit(K1 + 1.0)}) / $norm AS w
       |           FROM tf JOIN dfs USING (term) CROSS JOIN stats)
       |SELECT doc AS $idCol, round(sum(w), 6) AS bm25
       |FROM scored GROUP BY doc ORDER BY bm25 DESC, $idCol ASC LIMIT $limit""".stripMargin
  }

  /** chunk_id encoding base: supports chunk_ix < 10⁶, i.e. docs up to
    * ~16M tokens at stride 16 — far past any real document; the encoding
    * raises rather than silently colliding beyond it. */
  val ChunkIdBase = 1000000L

  /** THE chunk_id encoding — `doc_id · ChunkIdBase + chunk_ix` with the
    * overflow guard built in (an out-of-range chunk_ix fails the job via
    * raise_error instead of silently colliding with the next doc's
    * chunks). Every consumer ([[chunkBm25]],
    * [[PipelineQueries.ragEndToEnd]]) must encode through this one
    * expression so the guard can't be forgotten. */
  def chunkId(docId: org.apache.spark.sql.Column,
      chunkIx: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val guardedIx = when(chunkIx < ChunkIdBase, chunkIx)
      .otherwise(raise_error(concat(
        lit(s"chunk_ix overflows the chunk_id encoding (>= $ChunkIdBase): "),
        chunkIx)))
    docId * ChunkIdBase + guardedIx
  }

  /** Chunk-granularity BM25 — the composed RAG retrieval shape (chunk the
    * corpus, rank the CHUNKS): retrieval returns the exact window to feed
    * a context assembly step, not a whole document. chunk_id =
    * doc_id·[[ChunkIdBase]] + chunk_ix, so provenance is recoverable
    * arithmetically; an out-of-range chunk_ix fails the job instead of
    * colliding with the next doc's chunks. Chunking is a pure expression
    * stage feeding the same one-scan BM25 — no extra corpus pass vs
    * doc-level ranking. */
  def chunkBm25(spark: SparkSession, dir: String): DataFrame = {
    val chunked = VectorModel.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(TextAnalysis.chunks(col("text"), ChunkSize, ChunkStride))
          .as(Seq("chunk_ix", "chunk")))
      .select(chunkId(col("doc_id"), col("chunk_ix")).as("chunk_id"),
        col("chunk").as("text"))
    graft.text.Bm25.topK(chunked, Bm25Terms, 15, idCol = "chunk_id", textCol = "text")
  }

  val chunkBm25Sql: String = {
    val chunkSource =
      s"""SELECT CAST(doc_id * $ChunkIdBase + s // $ChunkStride AS BIGINT) AS chunk_id,
         |  array_to_string(toks[s+1 : s+$ChunkSize], ' ') AS text
         |FROM (SELECT doc_id, toks, unnest(range(0, len(toks), $ChunkStride)) AS s
         |      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))""".stripMargin
    bm25SqlOver(chunkSource, "chunk_id", 15)
  }

  /** PII fixture suffixes (written for this test — synthetic identifiers
    * on reserved example domains/ranges, nothing real): the generated
    * corpus contains no PII, so, exactly like the CJK fixture below, each
    * document draws a suffix by `doc_id % N` — the operator is exercised
    * with real matches at every SF, including multi-match rows, mixed
    * types, and clean rows (the negative case). */
  val PiiFixture: Seq[(Int, String)] = Seq(
    0 -> " contact alice.smith@example.com for access",
    1 -> " node at 10.0.0.1 and 192.168.1.254 responded",
    2 -> " call +1-555-867-5309 before the deploy",
    3 -> " forwarded to bob_jones+spam@mail.example.org from 172.16.254.3",
    4 -> " plain suffix with no sensitive tokens",
    5 -> " oncall +44-20-7946-0958 cc carol@corp.example",
    6 -> "")

  private[queries] def piiCorpus(spark: SparkSession, dir: String): DataFrame = {
    val fixture = spark.createDataFrame(PiiFixture).toDF("fid", "suffix")
    VectorModel.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        (col("doc_id") % PiiFixture.size).cast("int").as("fid"))
      .join(broadcast(fixture), "fid")
      .select(col("doc_id"), concat(col("text"), col("suffix")).as("text"))
  }

  private def piiCorpusSql: String = {
    val values = PiiFixture.map { case (i, s) => s"($i, '$s')" }.mkString(", ")
    s"""SELECT d.doc_id AS doc_id, d.text || f.suffix AS text
       |      FROM documents d
       |      JOIN (VALUES $values) f(fid, suffix) ON f.fid = d.doc_id % ${PiiFixture.size}""".stripMargin
  }

  /** PII scrub stage ([[graft.text.Pii]]): per-document typed match counts
    * plus the redacted text's length and fingerprint (the narrow columns a
    * 100 TB scrub would materialize — the masked text itself flows on to
    * the next stage, not into a report). */
  def pii(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Pii
    piiCorpus(spark, dir).select(
      col("doc_id"),
      Pii.emailCount(col("text")).as("emails"),
      Pii.phoneCount(col("text")).as("phones"),
      Pii.ipv4Count(col("text")).as("ips"),
      length(Pii.redact(col("text"))).cast("long").as("clean_len"),
      md5(Pii.redact(col("text"))).as("clean_fp"))
      .orderBy("doc_id")
  }

  val piiSql: String = {
    import graft.text.Pii
    s"""SELECT doc_id,
       |  ${Pii.countSql("text", Pii.EmailRe)} AS emails,
       |  ${Pii.countSql("text", Pii.PhoneRe)} AS phones,
       |  ${Pii.countSql("text", Pii.Ipv4Re)} AS ips,
       |  length(${Pii.redactSql("text")}) AS clean_len,
       |  md5(${Pii.redactSql("text")}) AS clean_fp
       |FROM (${piiCorpusSql})
       |ORDER BY doc_id""".stripMargin
  }

  /** Gopher-rule bounds (the published repetition/quality filter suite's
    * structural rules; the repetition rules themselves are `tx_repetition`).
    * One definition feeds the Column op and the oracle text. */
  val GopherMinWords = 50
  val GopherMaxWords = 100000
  val GopherMinMeanLen = 3.0
  val GopherMaxMeanLen = 10.0
  val GopherMaxSymbolRatio = 0.1
  val GopherMinAlphaFrac = 0.8
  val GopherMinStopHits = 2

  /** Gopher structural quality rules, per document: the five published
    * structural checks as individual flags plus the conjunction — the
    * rule-table shape a curation pipeline materializes so each drop is
    * attributable to a rule. Pure expressions (one scan, no shuffle before
    * the report sort); thresholds compare the RAW doubles on both engines,
    * outputs round to 6dp. */
  def gopher(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val nWords = TextAnalysis.tokenCount(t).cast("long")
    val meanLen = TextAnalysis.avgTokenLen(t)
    val symR = TextAnalysis.symbolRatio(t)
    val alphaF = TextAnalysis.alphaTokenFraction(t)
    val stopHits = TextAnalysis.markerCount(t, TextAnalysis.Stopwords).cast("long")
    val pw = nWords >= GopherMinWords && nWords <= GopherMaxWords
    val pl = meanLen >= GopherMinMeanLen && meanLen <= GopherMaxMeanLen
    val ps = symR < GopherMaxSymbolRatio
    val pa = alphaF > GopherMinAlphaFrac
    val ph = stopHits >= GopherMinStopHits
    VectorModel.documents(spark, dir).select(
      col("doc_id"), nWords.as("n_words"),
      round(meanLen, 6).as("mean_len"),
      round(symR, 6).as("symbol_ratio"),
      round(alphaF, 6).as("alpha_frac"),
      stopHits.as("stop_hits"),
      pw.as("pass_words"), pl.as("pass_len"), ps.as("pass_symbols"),
      pa.as("pass_alpha"), ph.as("pass_stops"),
      (pw && pl && ps && pa && ph).as("keep"))
      .orderBy("doc_id")
  }

  val gopherSql: String = {
    val n = "len(string_split(text, ' '))"
    val meanLen = s"(CAST(length(text) - $n + 1 AS DOUBLE)/CAST($n AS DOUBLE))"
    val symR = s"(CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)/CAST($n AS DOUBLE))"
    val alphaF = s"(CAST(len(list_filter(string_split(text, ' '), " +
      s"t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)/CAST($n AS DOUBLE))"
    val stopHits = s"len(list_filter(string_split(text, ' '), " +
      s"t -> t IN (${TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")})))"
    val d = OracleSql.lit _
    val pw = s"($n >= $GopherMinWords AND $n <= $GopherMaxWords)"
    val pl = s"($meanLen >= ${d(GopherMinMeanLen)} AND $meanLen <= ${d(GopherMaxMeanLen)})"
    val ps = s"($symR < ${d(GopherMaxSymbolRatio)})"
    val pa = s"($alphaF > ${d(GopherMinAlphaFrac)})"
    val ph = s"($stopHits >= $GopherMinStopHits)"
    s"""SELECT doc_id, CAST($n AS BIGINT) AS n_words,
       |  round($meanLen, 6) AS mean_len,
       |  round($symR, 6) AS symbol_ratio,
       |  round($alphaF, 6) AS alpha_frac,
       |  CAST($stopHits AS BIGINT) AS stop_hits,
       |  $pw AS pass_words, $pl AS pass_len, $ps AS pass_symbols,
       |  $pa AS pass_alpha, $ph AS pass_stops,
       |  ($pw AND $pl AND $ps AND $pa AND $ph) AS keep
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** CJK fixture sentences (written for this test — generic data-systems
    * phrases, NOT the reference's corpus): Chinese prose has no spaces, so
    * these exercise the character-bigram fallback; two are near-duplicates
    * and one mixes Latin tokens. Joined against `documents` on
    * `doc_id % N` so the corpus — and the gate — scales with the dataset
    * (disjoint doc_ids per SF; nothing is tuned to one scale factor). */
  val CjkFixture: Seq[(Int, String)] = Seq(
    0 -> "向量数据库支持高效的相似度搜索",
    1 -> "向量数据库支持高效的相似搜索",
    2 -> "分布式计算引擎处理大规模数据",
    3 -> "机器学习模型需要大量训练数据",
    4 -> "数据去重是训练管道的关键步骤",
    5 -> "倒排索引加速关键词检索",
    6 -> "Spark 处理 超大规模 数据集")

  /** Query string for the CJK retrieval gate; terms are its character
    * bigrams — the same tokenization the corpus side gets. */
  val CjkQuery = "向量数据库搜索"
  def cjkQueryTerms: Seq[String] = CjkQuery.sliding(2).toSeq.distinct

  /** The CJK corpus: every document row draws a fixture sentence by
    * `doc_id % N` plus a deterministic pad suffix (varies document length,
    * so BM25's length normalization differentiates rows sharing a
    * sentence). */
  private[queries] def cjkCorpus(spark: SparkSession, dir: String): DataFrame = {
    val fixture = spark.createDataFrame(CjkFixture).toDF("fid", "cjk")
    VectorModel.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % CjkFixture.size).cast("int").as("fid"))
      .join(broadcast(fixture), "fid")
      .select(col("doc_id"),
        concat(TextAnalysis.cjkNormalize(col("cjk")),
          expr("repeat(' pad', cast(doc_id % 3 as int))")).as("text"))
  }

  private[queries] def cjkCorpusSql: String = {
    val values = CjkFixture.map { case (i, s) => s"($i, '$s')" }.mkString(", ")
    // term-for-term mirror of TextAnalysis.cjkTokens / cjkNormalize:
    // whitespace split, CJK-bearing tokens of length >= 2 expand to
    // overlapping character bigrams (substr is character-based in both
    // engines), everything else passes through
    val bigrams =
      """array_to_string(flatten(list_transform(string_split(cjk, ' '), t ->
        |  CASE WHEN regexp_matches(t, '[一-鿿]') AND length(t) >= 2
        |       THEN [substr(t, i, 2) for i in range(1, length(t))]
        |       ELSE [t] END)), ' ')""".stripMargin
    s"""SELECT doc_id, $bigrams || repeat(' pad', CAST(doc_id % 3 AS INT)) AS text
       |FROM (SELECT d.doc_id AS doc_id, f.cjk AS cjk
       |      FROM documents d
       |      JOIN (VALUES $values) f(fid, cjk) ON f.fid = d.doc_id % ${CjkFixture.size})""".stripMargin
  }

  /** CJK BM25 retrieval gate: rank the bigram-normalized Chinese corpus
    * for the bigram query bag. On raw whitespace tokens every sentence is
    * ONE token and this query returns nothing — the gate fails unless the
    * fallback actually tokenizes. */
  def cjkBm25(spark: SparkSession, dir: String): DataFrame =
    graft.text.Bm25.topK(cjkCorpus(spark, dir), cjkQueryTerms, 15)

  lazy val cjkBm25Sql: String =
    bm25SqlOver(cjkCorpusSql, "doc_id", 15, cjkQueryTerms)

  /** Query terms under the DICTIONARY segmenter: real words, not bigrams. */
  def cjkDictQueryTerms: Seq[String] = TextAnalysis.fmmSegment(CjkQuery)

  /** The CJK corpus under the FMM dictionary segmenter
    * ([[graft.text.TextAnalysis.cjkTokensDict]]): the fixture sentences
    * segment ONCE (7 rows — segmentation is a function of fid alone) and
    * every document draws its segmented text by `doc_id % N`, exactly
    * like [[cjkCorpus]]. */
  private[queries] def cjkCorpusDict(spark: SparkSession, dir: String): DataFrame = {
    val fixture = spark.createDataFrame(CjkFixture).toDF("fid", "cjk")
      .select(col("fid"), TextAnalysis.cjkNormalizeDict(col("cjk")).as("ntext"))
    VectorModel.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % CjkFixture.size).cast("int").as("fid"))
      .join(broadcast(fixture), "fid")
      .select(col("doc_id"),
        concat(col("ntext"),
          expr("repeat(' pad', cast(doc_id % 3 as int))")).as("text"))
  }

  /** DuckDB mirror of the FMM segmenter: a RECURSIVE CTE advances each
    * CJK token's (pos, out) state by the identical longest-match rule
    * (substr(t, pos, 4) ∈ dict → 4, else 3, else 2, else one char —
    * clamped substrings included), finished states carry pos > length.
    * Segmentation runs over the 7 fixture sentences only, then joins
    * documents by fid — the same fid-level factoring as the Spark side. */
  private[queries] def cjkCorpusDictSql: String = {
    val values = CjkFixture.map { case (i, s) => s"($i, '$s')" }.mkString(", ")
    val dlist = TextAnalysis.CjkDict.map(w => s"'$w'").mkString(", ")
    def cand(l: Int) = s"substr(t, pos, $l) IN ($dlist)"
    val stepCase =
      s"CASE WHEN ${cand(4)} THEN 4 WHEN ${cand(3)} THEN 3 WHEN ${cand(2)} THEN 2 ELSE 1 END"
    val tokCase =
      s"""CASE WHEN ${cand(4)} THEN substr(t, pos, 4)
         |     WHEN ${cand(3)} THEN substr(t, pos, 3)
         |     WHEN ${cand(2)} THEN substr(t, pos, 2)
         |     ELSE substr(t, pos, 1) END""".stripMargin
    s"""WITH RECURSIVE ftoks AS (
       |  SELECT fid, unnest(string_split(cjk, ' ')) AS t,
       |         generate_subscripts(string_split(cjk, ' '), 1) AS ti
       |  FROM (VALUES $values) f(fid, cjk)),
       |fseg(fid, ti, t, pos, out) AS (
       |  SELECT fid, ti, t, 1, '' FROM ftoks WHERE regexp_matches(t, '[一-鿿]')
       |  UNION ALL
       |  SELECT fid, ti, t, pos + $stepCase, out || ' ' || $tokCase
       |  FROM fseg WHERE pos <= length(t)),
       |fdone AS (
       |  SELECT fid, ti, ltrim(out) AS seg_t FROM fseg WHERE pos > length(t)),
       |fjoined AS (
       |  SELECT a.fid, a.ti, coalesce(d.seg_t, a.t) AS piece
       |  FROM ftoks a LEFT JOIN fdone d ON a.fid = d.fid AND a.ti = d.ti),
       |fsegged AS (
       |  SELECT fid, string_agg(piece, ' ' ORDER BY ti) AS ntext
       |  FROM fjoined GROUP BY fid)
       |SELECT d.doc_id AS doc_id,
       |  s.ntext || repeat(' pad', CAST(d.doc_id % 3 AS INT)) AS text
       |FROM documents d
       |JOIN fsegged s ON s.fid = d.doc_id % ${CjkFixture.size}""".stripMargin
  }

  /** CJK BM25 under the DICTIONARY segmenter — the jieba-grade upgrade
    * over the bigram fallback at the same seam, carrying the same hash
    * gate: real-word tokens (no cross-word-boundary bigrams), real-word
    * query terms. TextSpec measures the token-quality delta. */
  def cjkBm25Dict(spark: SparkSession, dir: String): DataFrame =
    graft.text.Bm25.topK(cjkCorpusDict(spark, dir), cjkDictQueryTerms, 15)

  lazy val cjkBm25DictSql: String =
    bm25SqlOver(cjkCorpusDictSql, "doc_id", 15, cjkDictQueryTerms)

  /** Hash-projection embedding dimension (the [[graft.text.HashEmbedder]]
    * default; small enough that the flat-column oracle stays readable). */
  val EmbedDim = 16

  /** VALUE-gated embedding stage: every document's deterministic
    * hash-projection embedding as flat columns e0..e{dim-1}. This is the
    * oracle leg of the RAG capstone (`pipe_rag_e2e` composes the same
    * embedder with IVF indexing, rows-only like every k-means path) — the
    * embedding math itself is exact-checked against DuckDB. */
  def embedDocs(spark: SparkSession, dir: String): DataFrame = {
    val emb = new graft.text.HashEmbedder(EmbedDim)
    VectorModel.documents(spark, dir)
      .select(col("doc_id"), emb.embed(col("text")).as("emb"))
      .select(col("doc_id") +:
        (0 until EmbedDim).map(i => col("emb")(i).as(s"e$i")): _*)
      .orderBy("doc_id")
  }

  /** The hash-feature components e0..e{EmbedDim-1} as SQL select items
    * over a token-hash list `hs` — shared by the [[embedDocsSql]] oracle
    * and the learned-projection oracle ([[embedDocsLocalSql]]). */
  /** DuckDB md5-60-bit token-hash list over an arbitrary text expression —
    * the front half of the [[graft.text.HashEmbedder]] mirror, shared with
    * the MaxSim oracle ([[AnnQueries.maxSimTopKSql]]). */
  private[queries] def hashListSql(textExpr: String): String =
    s"list_transform(string_split(lower($textExpr), ' '), " +
      "t -> ('0x'||substr(md5(t),1,15))::BIGINT)"

  private[queries] def hashFeatureComps: String = {
    val one = OracleSql.lit(1.0)
    val negOne = OracleSql.lit(-1.0)
    val zero = OracleSql.lit(0.0)
    (0 until EmbedDim).map { i =>
      s"""list_sum(list_transform(hs, h -> CASE WHEN h % $EmbedDim = $i
         |    THEN CASE WHEN (h >> 8) & 1 = 1 THEN $one ELSE $negOne END
         |    ELSE $zero END)) AS e$i""".stripMargin
    }.mkString(",\n  ")
  }

  private[queries] def hashedDocsSql: String =
    s"""SELECT doc_id,
       |        list_transform(string_split(lower(text), ' '),
       |          t -> ('0x'||substr(md5(t),1,15))::BIGINT) AS hs
       |      FROM documents""".stripMargin

  val embedDocsSql: String =
    s"""SELECT doc_id,
       |  $hashFeatureComps
       |FROM ($hashedDocsSql)
       |ORDER BY doc_id""".stripMargin

  /** Output dimension of the local linear model (flat-column oracle). */
  val LocalDim = 8

  /** Seed of the deterministic "trained" weights — one definition shared
    * by the serving path and the oracle literal generator. */
  val LocalModelSeed = 7L

  /** The persisted local-model sidecar for a dataset dir, written ONCE
    * (the model-registry shape: an offline job saves weights; serving only
    * loads). Memoized like every other layout build. */
  private[graft] def localModelPath(spark: SparkSession, dir: String): String =
    localModelCache.computeIfAbsent(dir, _ => {
      val p = graft.store.Fs.scratchDir(spark, "graft_embed_model") + "/weights.csv"
      graft.text.LocalModelEmbedder.save(spark, p,
        graft.text.LocalModelEmbedder.seeded(LocalDim, EmbedDim, LocalModelSeed))
      p
    })

  private val localModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** VALUE-gated LOCAL-MODEL embedding: weights load from the persisted
    * sidecar ([[graft.text.LocalModelEmbedder]] — the ONNX-style
    * lifecycle) and every document's learned projection is exact-checked
    * against DuckDB recomputing the same linear model from literal
    * weights. Dyadic-rational weights × integer count features keep the
    * arithmetic exactly representable, so a LEARNED model is hash-gated
    * end-to-end — not just rows-counted. */
  def embedDocsLocal(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.text.LocalModelEmbedder.load(spark, localModelPath(spark, dir))
    VectorModel.documents(spark, dir)
      .select(col("doc_id"), emb.embed(col("text")).as("emb"))
      .select(col("doc_id") +:
        (0 until LocalDim).map(i => col("emb")(i).as(s"m$i")): _*)
      .orderBy("doc_id")
  }

  val embedDocsLocalSql: String = {
    val projs = (0 until LocalDim).map { i =>
      val terms = (0 until EmbedDim).map { j =>
        val k = graft.text.LocalModelEmbedder.quantStep(LocalModelSeed, i, j)
        s"(CAST($k AS DOUBLE)/256.0) * e$j"
      }.mkString(" + ")
      s"($terms) AS m$i"
    }.mkString(",\n  ")
    s"""WITH feats AS (
       |  SELECT doc_id,
       |  $hashFeatureComps
       |  FROM ($hashedDocsSql))
       |SELECT doc_id,
       |  $projs
       |FROM feats
       |ORDER BY doc_id""".stripMargin
  }

  // ---- the pure-SQL pipeline surface ([[graft.sql.SqlSurface]]) ----------
  //
  // The same operators, entered as SQL TEXT through the registered SQL
  // functions — what a data engineer writing `spark.sql(...)` composes.
  // Each query binds the corpus view, registers the functions, and runs
  // one SQL string; the oracles are the SAME DuckDB mirrors the Column-API
  // twins are gated by (or term-for-term expansions of the function
  // bodies), so the SQL surface earns the identical hash gate.

  /** Sessions whose table functions are already registered — the
    * registration is idempotent (OR REPLACE) but NOT free: it is 2 DDL
    * statements through the parser and catalog (the scalar functions are
    * injected by [[graft.GraftExtensions]] and need none), and re-running
    * the registration per query once charged every `tx_sql_*` serve
    * ~1.5 s of pure DDL (measured with ~16 statements: the tx_sql_chunks
    * plan is identical to tx_chunks', yet it benched 8× slower). The VIEW
    * rebind stays per-call — the dir changes. */
  // Keyed on the SESSION OBJECT (synchronized weak-identity map), not
  // System.identityHashCode: identity hashes are not unique across
  // distinct sessions, so a collision would silently skip registerAll
  // and every tx_sql_* query would fail with 'undefined function'. The
  // weak keys also let closed sessions be collected.
  private val sqlSurfaceRegistered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  private def sqlSurfaceSession(spark: SparkSession, dir: String): Unit = {
    VectorModel.documents(spark, dir)
      .createOrReplaceTempView(graft.sql.SqlSurface.DocsView)
    if (sqlSurfaceRegistered.put(spark, java.lang.Boolean.TRUE) == null)
      graft.sql.SqlSurface.registerAll(spark)
  }

  /** A cleaning stage composed in ONE SQL statement: quality gate →
    * token-count floor → exact-dedup (first doc per content fingerprint)
    * → language breakdown. Every operator in the text is a registered SQL
    * function; the plan is the same codegen'd expressions as the Column
    * API (each function's builder calls its Column operator). */
  def sqlClean(spark: SparkSession, dir: String): DataFrame = {
    sqlSurfaceSession(spark, dir)
    spark.sql(
      s"""SELECT lang_pred, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM (
         |  SELECT tx_lang_id(text) AS lang_pred,
         |         tx_token_count(text) AS n_tokens,
         |         row_number() OVER (PARTITION BY tx_fingerprint(text)
         |                            ORDER BY doc_id) AS rn
         |  FROM ${graft.sql.SqlSurface.DocsView}
         |  WHERE tx_quality_score(text) > CAST('0.3' AS DOUBLE)
         |    AND tx_token_count(text) >= 10)
         |WHERE rn = 1
         |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin)
  }

  val sqlCleanSql: String = {
    val nTok = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
    val stopRatio = s"CAST(${duckMarkerCount(TextAnalysis.Stopwords)} AS DOUBLE) / $nTok"
    val qualityExpr =
      s"(CAST('1.0' AS DOUBLE) - $stopRatio) * least($nTok / CAST('100.0' AS DOUBLE), CAST('1.0' AS DOUBLE))"
    val scores = TextAnalysis.LangMarkers.map { case (lang, markers) =>
      lang -> duckMarkerCount(markers)
    }
    val allZero = scores.map { case (_, s) => s"$s = 0" }.mkString(" AND ")
    val chain = scores.zipWithIndex.map { case ((lang, s), i) =>
      val rest = scores.drop(i + 1).map(_._2)
      rest match {
        case Seq() => s"ELSE '$lang'"
        case Seq(only) => s"WHEN $s >= $only THEN '$lang'"
        case many => s"WHEN $s >= greatest(${many.mkString(", ")}) THEN '$lang'"
      }
    }
    val langPred =
      s"CASE WHEN $allZero THEN 'und' ${chain.init.mkString(" ")} ${chain.last} END"
    s"""SELECT lang_pred, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM (
       |  SELECT $langPred AS lang_pred,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM documents
       |  WHERE $qualityExpr > CAST('0.3' AS DOUBLE)
       |    AND len(string_split(text, ' ')) >= 10)
       |WHERE rn = 1
       |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
  }

  /** [[bm25TopK]] through the `tx_bm25` SQL TABLE function — corpus
    * stats and ranking inside one SQL invocation; same oracle. */
  def sqlBm25(spark: SparkSession, dir: String): DataFrame = {
    sqlSurfaceSession(spark, dir)
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    spark.sql(
      s"""SELECT doc_id, bm25 FROM tx_bm25(array($terms), 15)
         |ORDER BY bm25 DESC, doc_id ASC""".stripMargin)
  }

  /** [[chunks]] through the `tx_chunks` SQL TABLE function with a
    * correlated LATERAL join — the SQL form of posexplode-per-doc; same
    * oracle. */
  def sqlChunks(spark: SparkSession, dir: String): DataFrame = {
    sqlSurfaceSession(spark, dir)
    spark.sql(
      s"""SELECT d.doc_id, c.chunk_ix, c.chunk,
         |  tx_token_count(c.chunk) AS n_chunk_tokens
         |FROM ${graft.sql.SqlSurface.DocsView} d,
         |  LATERAL tx_chunks(d.text, $ChunkSize, $ChunkStride) c
         |ORDER BY doc_id, chunk_ix""".stripMargin)
  }

  // ---- BPE subword tokenization --------------------------------------

  /** Corpus-trained BPE model for a dataset dir — ONE map-side-combined
    * wordcount shuffle + driver-side merge learning over the capped vocab
    * ([[graft.text.Bpe.train]], the corpus-size-independent Sennrich
    * shape) — memoized like every other layout build. 64 merges more
    * than saturates this corpus's vocabulary (training stops early at
    * the best-count<2 floor). */
  private[graft] def bpeModel(spark: SparkSession, dir: String)
      : graft.text.Bpe.BpeModel =
    bpeModelCache.computeIfAbsent(dir, _ => {
      val model =
        graft.text.Bpe.train(VectorModel.documents(spark, dir), "text", 64)
      // the trained-encode oracle's merge-table sidecar is build-time
      // state like the model — the write lands here; the serving entry
      // re-calls publish as a cheap repair no-op
      publishBpeMerges(spark, dir, model)
      model
    })

  private def publishBpeMerges(spark: SparkSession, dir: String,
      model: graft.text.Bpe.BpeModel): Unit =
    OracleSidecars.publish(spark, "bpe_merges", dir) {
      import spark.implicits._
      model.merges.zipWithIndex
        .map { case ((a, b), i) => (i + 1, a, b) }
        .toDF("rank", "a", "b")
    }

  private val bpeModelCache = new java.util.concurrent.ConcurrentHashMap[
    String, graft.text.Bpe.BpeModel]()

  /** HASH-GATED BPE encode over the documents table: per-doc word count,
    * character mass, and BPE token count under the FIXTURE-trained
    * constant model ([[graft.text.Bpe.FixtureModel]] — fixed merges are
    * what lets the oracle embed the merge table as literals and replay
    * the exact rank-order left-to-right merge walk as a recursive CTE
    * over the corpus's distinct words). The corpus-TRAINED twin is
    * `tx_bpe_corpus_vocab` (training is iterative argmax — spec-gated by
    * the module contract, like k-means/PQ fits). */
  def bpeStats(spark: SparkSession, dir: String): DataFrame = {
    val words = filter(TextAnalysis.tokens(col("text")), w => length(w) > 0)
    VectorModel.documents(spark, dir).select(
      col("doc_id"),
      size(words).cast("long").as("n_words"),
      aggregate(words, lit(0L), (acc, w) => acc + length(w)).as("n_chars"),
      graft.text.Bpe.bpeTokenCount(col("text"), graft.text.Bpe.FixtureModel)
        .cast("long").as("n_bpe"))
      .orderBy("doc_id")
  }

  /** Term-for-term DuckDB mirror of [[bpeStats]]: the merge table as
    * literal VALUES (rendered from the SAME [[graft.text.Bpe.FixtureModel]]
    * the Spark side serves — one source of truth), encode as a recursive
    * CTE over DISTINCT words whose state is (word, token list, merge
    * rank): each step merges the FIRST occurrence of the current rank's
    * pair, else advances the rank — repeated-first-occurrence equals the
    * engine's left-to-right non-overlapping pass (merging at i cannot
    * create an earlier occurrence), and per-word encode joined back to
    * the exploded docs reproduces the full-corpus counts. */
  /** Shared recursive-CTE chain computing per-doc BPE stats under the
    * fixture model (distinct-word encode → per-doc join/sum, ending in
    * `agg(doc_id, nw, nc, nb)`) — ONE definition consumed by
    * [[bpeStatsSql]] and `PipelineQueries.packBpeSql`, so the encode
    * mirror cannot drift between the stats and packing oracles. Callers
    * open with `WITH RECURSIVE`. */
  lazy val bpeDocCountCtes: String =
    bpeDocCountCtesWith(bpeFixtureMergesCte)

  /** The fixture model's merge table as a literal-VALUES CTE — factored
    * so every fixture-model oracle (stats, packing, the vocab-id shard
    * exports) renders the identical table. */
  lazy val bpeFixtureMergesCte: String = {
    val m = graft.text.Bpe.FixtureModel.merges
    val vals = m.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1}, '$a', '$b')" }.mkString(", ")
    s"merges(rank, a, b) AS (SELECT * FROM (VALUES $vals) v(rank, a, b))"
  }

  /** The encode-walk CTE chain parameterized by its merge-table source —
    * literal VALUES for the fixture model, a [[OracleSidecars]]
    * `read_parquet` for the corpus-TRAINED model — so every BPE oracle
    * replays the identical walk. Ends in `final(w, toks, n)` (per
    * DISTINCT word: its token list and count) and `docw(doc_id, w)` (the
    * word occurrences). The stop rank is data-driven (`max(rank) + 1`),
    * making the chain merge-count independent. */
  def bpeEncodeCtes(mergesCte: String): String =
    s"""$mergesCte,
       |words0(w) AS (SELECT DISTINCT w FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> ''),
       |enc(w, toks, midx) AS (
       |  SELECT w, [substr(w, i, 1) for i in range(1, length(w)+1)], 1 FROM words0
       |  UNION ALL
       |  SELECT w,
       |    CASE WHEN pos IS NULL THEN toks
       |         ELSE toks[1:pos-1] || [toks[pos] || toks[pos+1]] || toks[pos+2:] END,
       |    CASE WHEN pos IS NULL THEN midx + 1 ELSE midx END
       |  FROM (
       |    SELECT e.w AS w, e.toks AS toks, e.midx AS midx,
       |      list_min([i for i in range(1, len(e.toks)) if e.toks[i] = m.a AND e.toks[i+1] = m.b]) AS pos
       |    FROM enc e JOIN merges m ON m.rank = e.midx) s
       |),
       |final AS (SELECT w, toks, len(toks) AS n FROM enc
       |  WHERE midx = (SELECT coalesce(max(rank), 0) + 1 FROM merges)),
       |docw AS (SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> '')""".stripMargin

  /** [[bpeEncodeCtes]] + the per-doc count aggregate the stats oracles
    * share. */
  def bpeDocCountCtesWith(mergesCte: String): String =
    s"""${bpeEncodeCtes(mergesCte)},
       |agg AS (
       |  SELECT d.doc_id AS doc_id, count(*) AS nw, sum(length(d.w)) AS nc, sum(f.n) AS nb
       |  FROM docw d JOIN final f ON f.w = d.w GROUP BY 1)""".stripMargin

  lazy val bpeStatsSql: String =
    s"""WITH RECURSIVE
       |$bpeDocCountCtes
       |SELECT doc_id,
       |  CAST(coalesce(nw, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(nc, 0) AS BIGINT) AS n_chars,
       |  CAST(coalesce(nb, 0) AS BIGINT) AS n_bpe
       |FROM documents LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** HASH-GATED per-doc BPE stats under the CORPUS-TRAINED model — the
    * training→encode seam verified END-TO-END: training stays spec-gated
    * (iterative argmax, outside SQL by the module contract), but its
    * output merge table is published as an [[OracleSidecars]] parquet
    * sidecar and the oracle replays the SAME recursive-CTE encode walk
    * over it ([[bpeDocCountCtesWith]]) that gates the fixture model — so
    * a wrong trained merge list, a drifted kernel, or a broken
    * train→serve handoff all hash-mismatch. */
  def bpeStatsTrained(spark: SparkSession, dir: String): DataFrame = {
    val model = bpeModel(spark, dir)
    publishBpeMerges(spark, dir, model) // repair no-op unless dir switched / root lost
    val words = filter(TextAnalysis.tokens(col("text")), w => length(w) > 0)
    VectorModel.documents(spark, dir).select(
      col("doc_id"),
      size(words).cast("long").as("n_words"),
      aggregate(words, lit(0L), (acc, w) => acc + length(w)).as("n_chars"),
      graft.text.Bpe.bpeTokenCount(col("text"), model)
        .cast("long").as("n_bpe"))
      .orderBy("doc_id")
  }

  lazy val bpeStatsTrainedSql: String =
    s"""WITH RECURSIVE
       |${bpeDocCountCtesWith(
          s"merges AS (SELECT CAST(rank AS INTEGER) AS rank, a, b FROM ${OracleSidecars.sqlTable("bpe_merges")})")}
       |SELECT doc_id,
       |  CAST(coalesce(nw, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(nc, 0) AS BIGINT) AS n_chars,
       |  CAST(coalesce(nb, 0) AS BIGINT) AS n_bpe
       |FROM documents LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Corpus-TRAINED BPE vocabulary: top subword tokens of the corpus by
    * frequency under [[bpeModel]] — HASH-GATED like the stats entries:
    * training stays spec-gated (iterative argmax), but given the
    * published merge-table sidecar the oracle replays the encode walk,
    * unnests every word occurrence's token list, and re-derives the
    * same frequency top-25. */
  def bpeCorpusVocab(spark: SparkSession, dir: String): DataFrame = {
    val model = bpeModel(spark, dir)
    publishBpeMerges(spark, dir, model) // repair no-op unless dir switched / root lost
    VectorModel.documents(spark, dir)
      .select(explode(
        graft.text.Bpe.bpeTokens(col("text"), model)).as("token"))
      .groupBy("token").count()
      .orderBy(col("count").desc, col("token"))
      .limit(25)
  }

  lazy val bpeCorpusVocabSql: String =
    s"""WITH RECURSIVE
       |${bpeEncodeCtes(
          s"merges AS (SELECT CAST(rank AS INTEGER) AS rank, a, b FROM ${OracleSidecars.sqlTable("bpe_merges")})")}
       |SELECT token, CAST(count(*) AS BIGINT) AS count FROM (
       |  SELECT unnest(f.toks) AS token
       |  FROM docw d JOIN final f ON f.w = d.w)
       |GROUP BY token ORDER BY count DESC, token ASC LIMIT 25""".stripMargin

  // ---- learned quality classifier -------------------------------------

  /** Trained-and-quantized quality model for a dataset dir
    * ([[graft.text.QualityModel.train]] — hashed-unigram logistic
    * regression on the planted reversed-text fixture), memoized like
    * every other layout build; a Bench build step. The weight sidecar
    * publish lands here (build-time state); the serving entry re-calls
    * it as a cheap repair no-op. */
  private[graft] def qualityModel(spark: SparkSession, dir: String)
      : graft.text.QualityModel.Model =
    qualityModelCache.computeIfAbsent(dir, _ => {
      val m = graft.text.QualityModel.train(VectorModel.documents(spark, dir))
      publishQualityWeights(spark, dir, m)
      m
    })

  private[queries] def publishQualityWeights(spark: SparkSession, dir: String,
      m: graft.text.QualityModel.Model): Unit =
    OracleSidecars.publish(spark, "quality_weights", dir) {
      import spark.implicits._
      (m.wq.toSeq.zipWithIndex.map { case (wq, b) => (b, wq) } :+
        (-1, m.bq)).toDF("bucket", "wq")
    }

  private val qualityModelCache = new java.util.concurrent.ConcurrentHashMap[
    String, graft.text.QualityModel.Model]()

  /** HASH-GATED learned quality score over every document: the quantized
    * logit `(bq + Σ_token wq[bucket(tok)] / n) / 1e6` and its 0/1 gate.
    * Training is spec-gated (QualityModelSpec: held-out separation);
    * GIVEN the published weight sidecar the serve is exact closed-form
    * arithmetic that [[qualityModelSql]] mirrors term-for-term — the
    * SQ8/PQ-ADC two-step oracle pattern applied to model-based corpus
    * curation. */
  def qualityModelScores(spark: SparkSession, dir: String): DataFrame = {
    val m = qualityModel(spark, dir)
    publishQualityWeights(spark, dir, m) // repair no-op unless dir switched / root lost
    graft.text.QualityModel.score(
        VectorModel.documents(spark, dir).select("doc_id", "text"), m)
      .orderBy("doc_id")
  }

  /** The quality-logit CTE chain (weights sidecar → token buckets →
    * per-doc integer dot → intercept) and the fixed-order logit
    * expression over its `d`/`b` CTEs — ONE definition composed by
    * [[qualityModelSql]] and the quality-gated mix oracle
    * ([[PipelineQueries.qualityMixSql]]) so the two cannot drift. */
  private[queries] def qualityLogitCtes: String = {
    val d = graft.text.QualityModel.D
    s"""w AS (SELECT CAST(bucket AS INTEGER) AS bucket, CAST(wq AS BIGINT) AS wq
       |  FROM ${OracleSidecars.sqlTable("quality_weights")}),
       |t AS (SELECT doc_id, n,
       |    ('0x'||substr(md5(tok),1,15))::BIGINT % $d AS bucket
       |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS n,
       |      unnest(string_split(text, ' ')) AS tok
       |    FROM documents)),
       |d AS (SELECT t.doc_id AS doc_id, t.n AS n, sum(w.wq) AS dot
       |  FROM t JOIN w USING (bucket) GROUP BY t.doc_id, t.n),
       |b AS (SELECT wq AS bq FROM w WHERE bucket = -1)""".stripMargin
  }

  private[queries] val qualityLogitExpr: String =
    "(CAST(b.bq AS DOUBLE) + CAST(d.dot AS DOUBLE)/CAST(d.n AS DOUBLE))" +
      s" / ${OracleSql.lit(graft.text.QualityModel.Scale)}"

  /** DuckDB mirror of [[qualityModelScores]] GIVEN the published weights:
    * same md5 bucket hash, integer weight sum (order-free), and the same
    * three fixed-order double ops. (Forced at TextQueries object init by
    * the strict `oracleSql` val — sound because Verify.main arms the
    * dataset-keyed sidecar root BEFORE anything touches the query
    * registry, which is the ordering the whole sidecar-oracle family
    * relies on.) */
  lazy val qualityModelSql: String =
    s"""WITH $qualityLogitCtes
       |SELECT d.doc_id AS doc_id,
       |  $qualityLogitExpr AS logit,
       |  CAST(CASE WHEN $qualityLogitExpr > CAST('0.0' AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT) AS is_quality
       |FROM d CROSS JOIN b ORDER BY doc_id""".stripMargin

  // ---- learned language ID ---------------------------------------------

  /** Trained-and-quantized language-ID model for a dataset dir
    * ([[graft.text.LangIdModel.train]] — char-trigram Naive Bayes on the
    * planted langified fixture), memoized like every other layout build;
    * a Bench build step. The weight sidecar publish lands here
    * (build-time state); the serving entry re-calls it as a cheap repair
    * no-op. */
  private[graft] def langIdModel(spark: SparkSession, dir: String)
      : graft.text.LangIdModel.Model =
    langIdModelCache.computeIfAbsent(dir, _ => {
      val m = graft.text.LangIdModel.train(VectorModel.documents(spark, dir))
      publishLangIdWeights(spark, dir, m)
      m
    })

  private def publishLangIdWeights(spark: SparkSession, dir: String,
      m: graft.text.LangIdModel.Model): Unit =
    OracleSidecars.publish(spark, "langid_weights", dir) {
      import spark.implicits._
      (for {
        (l, r) <- graft.text.LangIdModel.Langs.zipWithIndex
        b <- 0 until graft.text.LangIdModel.D
      } yield (l, r, b, m.wq(l)(b))).toDF("lang", "rank", "bucket", "wq")
    }

  private val langIdModelCache = new java.util.concurrent.ConcurrentHashMap[
    String, graft.text.LangIdModel.Model]()

  /** HASH-GATED learned language ID over every document: the per-language
    * integer dot Σ count(bucket)·wq[lang][bucket] over the bounded-prefix
    * char trigrams, argmax with the heuristic's tie order, "und" for
    * docs too short to gram. Training is spec-gated (LangIdModelSpec:
    * held-out fixture accuracy + heuristic agreement report); GIVEN the
    * published weight sidecar the serve is exact integer arithmetic that
    * [[langIdModelSql]] re-derives term-for-term. */
  def langIdModelScores(spark: SparkSession, dir: String): DataFrame = {
    val m = langIdModel(spark, dir)
    publishLangIdWeights(spark, dir, m) // repair no-op unless dir switched
    graft.text.LangIdModel.classify(
        VectorModel.documents(spark, dir).select("doc_id", "text"), m)
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[langIdModelScores]] GIVEN the published weights:
    * same bounded prefix, char-trigram enumeration, md5 bucket hash,
    * integer dots (order-free exact sums), and the same
    * (score DESC, rank ASC) argmax; docs with no trigram coalesce to
    * ('und', 0). */
  lazy val langIdModelSql: String = {
    import graft.text.LangIdModel.{D, GramLen, PrefixChars}
    s"""WITH w AS (SELECT lang, CAST(rank AS INTEGER) AS rank,
       |    CAST(bucket AS INTEGER) AS bucket, CAST(wq AS BIGINT) AS wq
       |  FROM ${OracleSidecars.sqlTable("langid_weights")}),
       |p AS (SELECT doc_id, substr(text, 1, $PrefixChars) AS prefix FROM documents),
       |gi AS (SELECT doc_id, prefix, unnest(range(1, len(prefix) - ${GramLen - 2})) AS i
       |       FROM p WHERE len(prefix) >= $GramLen),
       |g AS (SELECT doc_id,
       |    ('0x'||substr(md5(substr(prefix, CAST(i AS INTEGER), $GramLen)),1,15))::BIGINT % $D AS bucket
       |  FROM gi),
       |c AS (SELECT doc_id, bucket, count(*) AS cnt FROM g GROUP BY 1, 2),
       |s AS (SELECT c.doc_id, w.lang, w.rank, sum(c.cnt * w.wq) AS score
       |      FROM c JOIN w USING (bucket) GROUP BY 1, 2, 3),
       |best AS (SELECT doc_id, lang, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, rank ASC) AS rn
       |  FROM s)
       |SELECT d.doc_id, coalesce(b.lang, 'und') AS lang,
       |  CAST(coalesce(b.score, 0) AS BIGINT) AS score
       |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- learned LM perplexity scoring -------------------------------------

  /** The perplexity model's clean reference slice: the corpus's English
    * documents — the "train on a reference domain, score the crawl"
    * split CCNet makes with Wikipedia. Lang labels exist here; a corpus
    * without them would use [[langIdModelScores]]' output instead. */
  val LmReferenceLang = "en"

  /** Fitted-and-quantized bigram LM for a dataset dir
    * ([[graft.text.NgramLm.fit]] on the [[LmReferenceLang]] slice),
    * memoized like every other layout build; a Bench build step. The
    * two weight sidecars publish here (build-time state); the serving
    * entry re-calls it as a cheap repair no-op. */
  private[graft] def lmModel(spark: SparkSession, dir: String)
      : graft.text.NgramLm.Model =
    lmModelCache.computeIfAbsent(dir, _ => {
      val m = graft.text.NgramLm.fit(
        VectorModel.documents(spark, dir)
          .where(col("lang") === LmReferenceLang))
      publishLmSidecars(spark, dir, m)
      m
    })

  private[queries] def publishLmSidecars(spark: SparkSession, dir: String,
      m: graft.text.NgramLm.Model): Unit = {
    import spark.implicits._
    OracleSidecars.publish(spark, "lm_pairs", dir) {
      m.pairs.toSeq.map { case ((b1, b2), q) => (b1, b2, q) }
        .toDF("b1", "b2", "wq")
    }
    OracleSidecars.publish(spark, "lm_ctx", dir) {
      m.ctxDefault.toSeq.zipWithIndex.map { case (q, b1) => (b1, q) }
        .toDF("b1", "defq")
    }
  }

  private val lmModelCache = new java.util.concurrent.ConcurrentHashMap[
    String, graft.text.NgramLm.Model]()

  /** HASH-GATED learned perplexity over every document: cross-entropy in
    * nats per bigram under the [[LmReferenceLang]]-trained hashed-bigram
    * LM ([[graft.text.NgramLm]] — the CCNet quality-scoring shape).
    * Training is spec-gated (NgramLmSpec: in-domain vs garbled
    * separation); GIVEN the two published sidecars the serve is exact
    * integer sums plus ONE rounded division, mirrored term-for-term by
    * [[perplexitySql]]. */
  def perplexityScores(spark: SparkSession, dir: String): DataFrame = {
    val m = lmModel(spark, dir)
    publishLmSidecars(spark, dir, m) // repair no-op unless dir switched
    graft.text.NgramLm.score(
        VectorModel.documents(spark, dir).select("doc_id", "text"), m)
      .orderBy("doc_id")
  }

  /** The LM-scoring CTE chain over `src` (any table/CTE with doc_id,
    * text): sidecars → bucket bigrams → per-doc fixed-point sum → nats,
    * as CTEs `lw, lc, lg, ls, ln` with `ln = (doc_id, n_bigrams, nll_q,
    * nats)` — ONE definition composed by [[perplexitySql]] and the
    * perplexity-gate oracle ([[PipelineQueries.perplexityGateSql]]) so
    * the two cannot drift (the [[qualityLogitCtes]] pattern). */
  private[queries] def lmNatsCtes(src: String): String = {
    val b = graft.text.NgramLm.B
    val scale = graft.text.NgramLm.Scale.toLong
    s"""lw AS (SELECT CAST(b1 AS INTEGER) AS b1, CAST(b2 AS INTEGER) AS b2,
       |    CAST(wq AS BIGINT) AS wq FROM ${OracleSidecars.sqlTable("lm_pairs")}),
       |lc AS (SELECT CAST(b1 AS INTEGER) AS b1, CAST(defq AS BIGINT) AS defq
       |  FROM ${OracleSidecars.sqlTable("lm_ctx")}),
       |lg AS (SELECT doc_id,
       |    ('0x'||substr(md5('lm:'||toks[CAST(i AS INTEGER)]),1,15))::BIGINT % $b AS b1,
       |    ('0x'||substr(md5('lm:'||toks[CAST(i AS INTEGER)+1]),1,15))::BIGINT % $b AS b2
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
       |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM $src)
       |    WHERE len(toks) >= 2)),
       |ls AS (SELECT lg.doc_id AS doc_id, count(*) AS n_bigrams,
       |    CAST(sum(COALESCE(lw.wq, lc.defq)) AS BIGINT) AS nll_q
       |  FROM lg LEFT JOIN lw ON lg.b1 = lw.b1 AND lg.b2 = lw.b2
       |  JOIN lc ON lg.b1 = lc.b1
       |  GROUP BY lg.doc_id),
       |ln AS (SELECT s.doc_id AS doc_id,
       |    CAST(COALESCE(ls.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |    CAST(COALESCE(ls.nll_q, 0) AS BIGINT) AS nll_q,
       |    CASE WHEN COALESCE(ls.n_bigrams, 0) = 0 THEN CAST('0.0' AS DOUBLE)
       |      ELSE CAST(ls.nll_q // ls.n_bigrams AS DOUBLE)
       |        / CAST($scale AS DOUBLE) END AS nats
       |  FROM $src s LEFT JOIN ls USING (doc_id))""".stripMargin
  }

  lazy val perplexitySql: String =
    s"""WITH ${lmNatsCtes("documents")}
       |SELECT doc_id, n_bigrams, nll_q, nats FROM ln ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx_quality_model" -> (qualityModelScores _),
    "tx_perplexity" -> (perplexityScores _),
    "tx_langid_model" -> (langIdModelScores _),
    "tx_bpe_stats" -> (bpeStats _),
    "tx_bpe_stats_trained" -> (bpeStatsTrained _),
    "tx_bpe_corpus_vocab" -> (bpeCorpusVocab _),
    "tx_sql_clean" -> (sqlClean _),
    "tx_sql_bm25" -> (sqlBm25 _),
    "tx_sql_chunks" -> (sqlChunks _),
    "tx_embed" -> (embedDocs _),
    "tx_embed_local" -> (embedDocsLocal _),
    "tx_cjk_bm25" -> (cjkBm25 _),
    "tx_cjk_bm25_dict" -> (cjkBm25Dict _),
    "tx_bm25_topk" -> (bm25TopK _),
    "tx_chunk_bm25" -> (chunkBm25 _),
    "tx_chunks" -> (chunks _),
    "tx_vocab_topk" -> (vocab _),
    "tx_bigram_rarity" -> (bigramRarity _),
    "src_jsonl_agg" -> (jsonlAgg _),
    "src_csv_agg" -> (csvAgg _),
    "src_orc_agg" -> (orcAgg _),
    "src_avro_agg" -> (avroAgg _),
    "src_warc_agg" -> (warcAgg _),
    "src_warc_gz" -> (warcGzAgg _),
    "src_jsonl_gz" -> (jsonlGzAgg _),
    "src_jsonl_zst" -> (jsonlZstAgg _),
    "src_warc_fetch" -> (warcFetch _),
    "tx_html_text" -> (htmlText _),
    "tx_outlinks" -> (outlinks _),
    "tx_url_stats" -> (urlStats _),
    "tx_token_stats" -> (tokenStats _),
    "tx_quality" -> (quality _),
    "tx_fingerprints" -> (fingerprints _),
    "tx_rolling_fp" -> (rollingFp _),
    "tx_repetition" -> (repetition _),
    "tx_pii" -> (pii _),
    "tx_gopher" -> (gopher _),
    "tx_langid" -> (langId _))

  val oracleSql: Map[String, String] = Map(
    "tx_quality_model" -> qualityModelSql,
    "tx_perplexity" -> perplexitySql,
    "tx_langid_model" -> langIdModelSql,
    "tx_bpe_stats" -> bpeStatsSql,
    "tx_bpe_stats_trained" -> bpeStatsTrainedSql,
    "tx_bpe_corpus_vocab" -> bpeCorpusVocabSql,
    "tx_sql_clean" -> sqlCleanSql,
    "tx_sql_bm25" -> bm25TopKSql,
    "tx_sql_chunks" -> chunksSql,
    "tx_embed" -> embedDocsSql,
    "tx_embed_local" -> embedDocsLocalSql,
    "tx_cjk_bm25" -> cjkBm25Sql,
    "tx_cjk_bm25_dict" -> cjkBm25DictSql,
    "tx_bm25_topk" -> bm25TopKSql,
    "tx_chunk_bm25" -> chunkBm25Sql,
    "tx_chunks" -> chunksSql,
    "tx_vocab_topk" -> vocabSql,
    "tx_bigram_rarity" -> bigramRaritySql,
    "src_jsonl_agg" -> jsonlAggSql,
    "src_csv_agg" -> csvAggSql,
    "src_orc_agg" -> orcAggSql,
    "src_avro_agg" -> avroAggSql,
    "src_warc_agg" -> warcAggSql,
    "src_warc_gz" -> warcGzAggSql,
    "src_jsonl_gz" -> jsonlGzAggSql,
    "src_jsonl_zst" -> jsonlZstAggSql,
    "src_warc_fetch" -> warcFetchSql,
    "tx_html_text" -> htmlTextSql,
    "tx_outlinks" -> outlinksSql,
    "tx_url_stats" -> urlStatsSql,
    "tx_token_stats" -> tokenStatsSql,
    "tx_quality" -> qualitySql,
    "tx_fingerprints" -> fingerprintsSql,
    "tx_rolling_fp" -> rollingFpSql,
    "tx_repetition" -> repetitionSql,
    "tx_pii" -> piiSql,
    "tx_gopher" -> gopherSql,
    "tx_langid" -> langIdSql)
}
