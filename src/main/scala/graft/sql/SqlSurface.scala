package graft.sql

import org.apache.spark.sql.SparkSession

import graft.text.Bm25

/** The pure-SQL surface of the text/dedup pipeline, so a data engineer
  * writing SQL text composes the pipeline without touching Scala:
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
  * The scalar functions (`tx_quality_score`, `tx_lang_id`, `tx_pii_*`,
  * `dd_minhash_sig`, …) are injected by [[graft.GraftExtensions]], whose
  * builders call the Column operators themselves: one body per operator,
  * the same codegen'd expressions on both surfaces. This object registers
  * the two corpus-level TABLE functions, `tx_chunks` and `tx_bm25`, as
  * SQL UDFs (`CREATE OR REPLACE TEMPORARY FUNCTION … RETURN …`, Spark 4's
  * SQL UDF facility). Catalyst inlines their bodies at resolution, so
  * their plans are ordinary expressions with no `udf(…)`, and
  * SqlSurfaceSpec gates their value identity with the Column twins.
  *
  * Scope note: [[registerAll]] registers session-scoped TEMPORARY
  * functions (idempotent — OR REPLACE). The corpus-level table functions
  * ([[Bm25.topK]]'s twin `tx_bm25`) read the `graft_docs` temp view the
  * caller binds to whatever documents frame serves the session.
  */
object SqlSurface {

  /** The temp-view name the corpus-level table functions read. */
  val DocsView = "graft_docs"

  /** The CREATE statement of each table function. */
  private val TableFunctions: Seq[String] = Seq(
    // Sliding-window chunking — [[TextAnalysis.chunks]] as a TABLE
    // function: windows of `sz` tokens stepping by `st`.
    """CREATE OR REPLACE TEMPORARY FUNCTION tx_chunks(t STRING, sz INT, st INT)
      |RETURNS TABLE (chunk_ix BIGINT, chunk STRING) RETURN
      |SELECT CAST(pe.pos AS BIGINT) AS chunk_ix, pe.col AS chunk
      |FROM LATERAL posexplode(transform(
      |  sequence(0, size(split(t, ' ')) - 1, st),
      |  s -> concat_ws(' ', slice(split(t, ' '), s + 1, sz)))) pe""".stripMargin,
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
      |        ln(CAST('1.0' AS DOUBLE) + (CAST(c.n AS DOUBLE) - CAST(d.df AS DOUBLE)
      |             + CAST('0.5' AS DOUBLE)) / (CAST(d.df AS DOUBLE) + CAST('0.5' AS DOUBLE))) *
      |        (CAST(t.tf AS DOUBLE) * CAST('${Bm25.K1 + 1.0}' AS DOUBLE)) /
      |        (CAST(t.tf AS DOUBLE) + CAST('${Bm25.K1}' AS DOUBLE) *
      |          (CAST('1.0' AS DOUBLE) - CAST('${Bm25.B}' AS DOUBLE)
      |           + CAST('${Bm25.B}' AS DOUBLE) * CAST(t.dl AS DOUBLE)
      |           / (CAST(c.sum_dl AS DOUBLE) / CAST(c.n AS DOUBLE)))) AS w
      |      FROM tf t JOIN df d ON t.term = d.term CROSS JOIN corpus c
      |      WHERE t.tf > 0),
      |s AS (SELECT doc_id, round(sum(w), 6) AS bm25 FROM w GROUP BY doc_id)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, bm25 FROM (
      |  SELECT doc_id, bm25,
      |         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rn
      |  FROM s)
      |WHERE rn <= k""".stripMargin)

  /** Register the table functions in `spark` (idempotent — OR REPLACE;
    * session-scoped). They read [[DocsView]] at INVOCATION, so bind the
    * view before querying, not before registering. */
  def registerAll(spark: SparkSession): Unit = TableFunctions.foreach(spark.sql)
}
