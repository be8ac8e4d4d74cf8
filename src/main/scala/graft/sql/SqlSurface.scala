package graft.sql

import org.apache.spark.sql.SparkSession

import graft.dedup.Dedup
import graft.text.{Bm25, Pii, TextAnalysis}

/** The pure-SQL surface of the text/dedup pipeline — SQL scalar and table
  * functions (`CREATE OR REPLACE TEMPORARY FUNCTION … RETURN …`, the SQL
  * UDF facility of Spark 4) over the SAME builtin-expression bodies the
  * Column API operators compile to, so a data engineer writing SQL text
  * composes the pipeline without touching Scala:
  *
  * {{{
  *   SELECT doc_id FROM graft_docs
  *   WHERE tx_quality_score(text) > 0.5 AND tx_lang_id(text) = 'en'
  *   -- chunk + rank in the same statement:
  *   SELECT d.doc_id, c.chunk FROM graft_docs d,
  *     LATERAL tx_chunks(d.text, 32, 16) c
  *   SELECT * FROM tx_bm25(array('vector','spark'), 10)
  * }}}
  *
  * Each body is GENERATED from the engine's own constants
  * ([[TextAnalysis.Stopwords]], [[TextAnalysis.LangMarkers]],
  * [[TextAnalysis.LexPattern]], [[Dedup.MinhashP]], [[Bm25.K1]]/[[Bm25.B]])
  * and double literals land as `CAST('<value>' AS DOUBLE)` (Scala's
  * round-tripping Double.toString), so the SQL functions and the Column
  * operators cannot drift apart silently — and SqlSurfaceSpec gates
  * VALUE-IDENTITY of every function against its Column twin anyway.
  *
  * These are SQL UDFs, not external code: Catalyst inlines the bodies at
  * resolution, so the serving plans are the same codegen'd expressions as
  * the Column API — no black-box eval, full pushdown/pruning, zero
  * `udf(…)`.
  *
  * Scope note: [[registerAll]] registers session-scoped TEMPORARY
  * functions (idempotent — OR REPLACE). The corpus-level table functions
  * ([[Bm25.topK]]'s twin `tx_bm25`) read the `graft_docs` temp view the
  * caller binds to whatever documents frame serves the session.
  */
object SqlSurface {

  /** The temp-view name the corpus-level table functions read. */
  val DocsView = "graft_docs"

  /** A double literal that parses back to exactly the Scala value (string
    * round-trip, the OracleSql rule). */
  private def d(v: Double): String = s"CAST('$v' AS DOUBLE)"

  /** A regex for a Spark SQL string literal: the parser processes
    * backslash escapes, so every backslash doubles. */
  private def sqlRe(re: String): String = re.replace("\\", "\\\\")

  private def inList(markers: Seq[String]): String =
    markers.map(m => s"'$m'").mkString(", ")

  /** size(split(t, ' ')) — whitespace tokens, trailing empties kept. */
  private val NTok = "size(split(t, ' '))"

  private def markerCountSql(markers: Seq[String]): String =
    s"size(filter(split(t, ' '), x -> x IN (${inList(markers)})))"

  private val StopRatio =
    s"CAST(${markerCountSql(TextAnalysis.Stopwords)} AS DOUBLE) / CAST($NTok AS DOUBLE)"

  /** [[TextAnalysis.langId]] as a SQL CASE chain — same argmax, same fixed
    * tie-break order, 'und' on zero marker hits. */
  private def langIdCase: String = {
    val scores = TextAnalysis.LangMarkers.map { case (lang, markers) =>
      lang -> markerCountSql(markers)
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
    s"""CASE WHEN $allZero THEN 'und'
       |     ${chain.init.mkString(" ")}
       |     ${chain.last} END""".stripMargin
  }

  /** (name, CREATE statement) of every function — exposed so the spec can
    * enumerate coverage. */
  def definitions: Seq[(String, String)] = Seq(
    "tx_token_count" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION tx_token_count(t STRING)
         |RETURNS BIGINT RETURN CAST($NTok AS BIGINT)""".stripMargin,
    "tx_lex_token_count" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION tx_lex_token_count(t STRING)
         |RETURNS BIGINT
         |RETURN CAST(size(regexp_extract_all(t, '${TextAnalysis.LexPattern}', 0)) AS BIGINT)""".stripMargin,
    "tx_stopword_ratio" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION tx_stopword_ratio(t STRING)
         |RETURNS DOUBLE RETURN $StopRatio""".stripMargin,
    "tx_avg_token_len" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION tx_avg_token_len(t STRING)
         |RETURNS DOUBLE
         |RETURN CAST(length(t) - $NTok + 1 AS DOUBLE) / CAST($NTok AS DOUBLE)""".stripMargin,
    "tx_quality_score" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION tx_quality_score(t STRING)
         |RETURNS DOUBLE
         |RETURN (${d(1.0)} - $StopRatio) *
         |  least(CAST($NTok AS DOUBLE) / ${d(100.0)}, ${d(1.0)})""".stripMargin,
    "tx_lang_id" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION tx_lang_id(t STRING)
         |RETURNS STRING RETURN $langIdCase""".stripMargin,
    "tx_fingerprint" ->
      """CREATE OR REPLACE TEMPORARY FUNCTION tx_fingerprint(t STRING)
        |RETURNS STRING RETURN md5(t)""".stripMargin,
    "tx_sorted_fingerprint" ->
      """CREATE OR REPLACE TEMPORARY FUNCTION tx_sorted_fingerprint(t STRING)
        |RETURNS STRING
        |RETURN md5(array_join(array_sort(split(lower(t), ' ')), ' '))""".stripMargin,
    // MinHash signature — [[Dedup.minhashSignatures]] per-doc, as one
    // scalar expression (no explode): sig_j = min over distinct k-shingles
    // of (a_j·(md5_60(s) mod P) + b_j) mod P, a_j = 2j+3, b_j = 7j+1.
    // Docs shorter than k tokens yield the empty array (the Column
    // operator's callers filter them; a scalar function must total).
    "dd_minhash_sig" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION dd_minhash_sig(t STRING, n INT, k INT)
         |RETURNS ARRAY<BIGINT> RETURN
         |CASE WHEN $NTok < k THEN array()
         |ELSE transform(sequence(0, n - 1), j ->
         |  array_min(transform(
         |    array_distinct(transform(sequence(0, $NTok - k),
         |      i -> concat_ws(' ', slice(split(t, ' '), i + 1, k)))),
         |    s -> ((2*j + 3) * (CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) % ${Dedup.MinhashP})
         |          + (7*j + 1)) % ${Dedup.MinhashP})))
         |END""".stripMargin,
    // Sliding-window chunking — [[TextAnalysis.chunks]] as a TABLE
    // function: windows of `sz` tokens stepping by `st`.
    "tx_chunks" ->
      """CREATE OR REPLACE TEMPORARY FUNCTION tx_chunks(t STRING, sz INT, st INT)
        |RETURNS TABLE (chunk_ix BIGINT, chunk STRING) RETURN
        |SELECT CAST(pe.pos AS BIGINT) AS chunk_ix, pe.col AS chunk
        |FROM LATERAL posexplode(transform(
        |  sequence(0, size(split(t, ' ')) - 1, st),
        |  s -> concat_ws(' ', slice(split(t, ' '), s + 1, sz)))) pe""".stripMargin,
    // PII scrubbing — [[graft.text.Pii]] as scalar functions. The regex
    // literals ride through the SQL parser's escape processing, hence the
    // doubled backslashes (sqlRe); Spark runs them as Java regex, so IPv4
    // takes the JVM spelling of RE2's ASCII `\b` (Pii.Ipv4JvmRe). Bodies
    // are otherwise the same regexp_count/regexp_replace chains as the
    // Column twins.
    "tx_pii_emails" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION tx_pii_emails(t STRING)
         |RETURNS BIGINT RETURN CAST(regexp_count(t, '${sqlRe(Pii.EmailRe)}') AS BIGINT)""".stripMargin,
    "tx_pii_phones" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION tx_pii_phones(t STRING)
         |RETURNS BIGINT RETURN CAST(regexp_count(t, '${sqlRe(Pii.PhoneRe)}') AS BIGINT)""".stripMargin,
    "tx_pii_ips" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION tx_pii_ips(t STRING)
         |RETURNS BIGINT RETURN CAST(regexp_count(t, '${sqlRe(Pii.Ipv4JvmRe)}') AS BIGINT)""".stripMargin,
    "tx_pii_redact" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION tx_pii_redact(t STRING)
         |RETURNS STRING RETURN
         |regexp_replace(regexp_replace(regexp_replace(t,
         |  '${sqlRe(Pii.EmailRe)}', '<EMAIL>'),
         |  '${sqlRe(Pii.PhoneRe)}', '<PHONE>'),
         |  '${sqlRe(Pii.Ipv4JvmRe)}', '<IP>')""".stripMargin,
    // Okapi BM25 top-k over the session's corpus view — [[Bm25.topK]] as a
    // TABLE function, stats and all (N, Σdl, df as CTE aggregates instead
    // of collected literals; identical arithmetic, ranking on the rounded
    // score). LIMIT must be foldable in a SQL UDF, so the k-cut is a
    // row_number predicate — a GLOBAL window, i.e. one task ranks the
    // matching docs. That set is bounded by term selectivity (only tf > 0
    // rows reach the window), not corpus size, but a query of stopwords
    // would funnel wide: the Column twin ([[Bm25.topK]], orderBy+limit →
    // TakeOrderedAndProject) stays the serving path; this is the
    // SQL-text surface.
    "tx_bm25" ->
      s"""CREATE OR REPLACE TEMPORARY FUNCTION tx_bm25(qterms ARRAY<STRING>, k INT)
         |RETURNS TABLE (doc_id BIGINT, bm25 DOUBLE) RETURN
         |WITH q AS (SELECT explode(array_distinct(qterms)) AS term),
         |base AS (SELECT doc_id, split(lower(text), ' ') AS toks FROM $DocsView),
         |corpus AS (SELECT count(*) AS n, sum(size(toks)) AS sum_dl FROM base),
         |tf AS (SELECT b.doc_id, size(b.toks) AS dl, q.term,
         |              size(filter(b.toks, x -> x = q.term)) AS tf
         |       FROM base b CROSS JOIN q),
         |df AS (SELECT term, count(*) AS df FROM tf WHERE tf > 0 GROUP BY term),
         |w AS (SELECT t.doc_id,
         |        ln(${d(1.0)} + (CAST(c.n AS DOUBLE) - CAST(d.df AS DOUBLE) + ${d(0.5)})
         |                       / (CAST(d.df AS DOUBLE) + ${d(0.5)})) *
         |        (CAST(t.tf AS DOUBLE) * ${d(Bm25.K1 + 1.0)}) /
         |        (CAST(t.tf AS DOUBLE) + ${d(Bm25.K1)} *
         |          (${d(1.0)} - ${d(Bm25.B)} + ${d(Bm25.B)} * CAST(t.dl AS DOUBLE)
         |           / (CAST(c.sum_dl AS DOUBLE) / CAST(c.n AS DOUBLE)))) AS w
         |      FROM tf t JOIN df d ON t.term = d.term CROSS JOIN corpus c
         |      WHERE t.tf > 0),
         |s AS (SELECT doc_id, round(sum(w), 6) AS bm25 FROM w GROUP BY doc_id)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, bm25 FROM (
         |  SELECT doc_id, bm25,
         |         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rn
         |  FROM s)
         |WHERE rn <= k""".stripMargin)

  /** Register every function in `spark` (idempotent — OR REPLACE;
    * session-scoped). Corpus-level functions read [[DocsView]] at
    * INVOCATION, so bind the view before querying, not before
    * registering. */
  def registerAll(spark: SparkSession): Unit =
    definitions.foreach { case (_, ddl) => spark.sql(ddl) }
}
