package graft

import org.apache.spark.sql.functions._

import graft.model.VectorModel
import graft.sql.SqlSurface
import graft.text.TextAnalysis

/** The pure-SQL pipeline surface must be VALUE-IDENTICAL to the Column-API
  * operators it mirrors — the scalar functions' builders call those
  * operators, the two table functions are SQL UDFs, and this spec is the
  * gate that keeps them from drifting: every scalar function, the chunking
  * table function, and the corpus-level BM25 table function are compared
  * against their engine twins on the real documents table, and every
  * scalar function's plan is checked for lambdas. */
class SqlSurfaceSpec extends SparkSpec {

  private lazy val docs = {
    val d = VectorModel.documents(spark, Sf0001)
    d.createOrReplaceTempView(SqlSurface.DocsView)
    SqlSurface.registerAll(spark)
    d
  }

  test("scalar functions equal their Column twins on every document") {
    val viaSql = docs.sparkSession.sql(
      s"""SELECT doc_id,
         |  tx_token_count(text) AS n_tokens,
         |  tx_lex_token_count(text) AS n_lex,
         |  tx_stopword_ratio(text) AS stop_ratio,
         |  tx_avg_token_len(text) AS avg_len,
         |  tx_quality_score(text) AS quality,
         |  tx_lang_id(text) AS lang_pred,
         |  tx_fingerprint(text) AS fp,
         |  tx_sorted_fingerprint(text) AS sorted_fp
         |FROM ${SqlSurface.DocsView}""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val viaCols = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long"),
      TextAnalysis.lexTokenCount(col("text")).cast("long"),
      TextAnalysis.stopwordRatio(col("text")),
      TextAnalysis.avgTokenLen(col("text")),
      TextAnalysis.qualityScore(col("text")),
      TextAnalysis.langId(col("text")),
      TextAnalysis.fingerprint(col("text")),
      TextAnalysis.sortedTokenFingerprint(col("text")))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(viaSql.keySet === viaCols.keySet)
    assert(viaSql.nonEmpty)
    // exact equality including the doubles: identical expression trees
    viaSql.foreach { case (id, vs) => assert(vs === viaCols(id), s"doc $id") }
  }

  test("dd_minhash_sig equals Dedup.minhashSignatures; short docs yield the empty array") {
    val n = 16
    val k = 3
    val viaSql = docs.sparkSession.sql(
      s"""SELECT doc_id, dd_minhash_sig(text, $n, $k) AS sig FROM ${SqlSurface.DocsView}
         |UNION ALL SELECT -1L, dd_minhash_sig(CAST(NULL AS STRING), $n, $k)""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // a NULL text has no signature: NULL, not an array of n NULLs
    assert(viaSql(-1L) === null)
    val viaOp = graft.dedup.Dedup.minhashSignatures(docs, "doc_id", "text",
      numHashes = n, k = k)
      .collect().map(r =>
        r.getLong(0) -> (1 to n).map(i => r.getLong(i)).toSeq).toMap
    // the operator filters docs with < k tokens; the scalar function
    // totals with array() — same signatures on the shared domain
    viaOp.foreach { case (id, sig) => assert(viaSql(id) === sig, s"doc $id") }
    val short = viaSql.keySet -- viaOp.keySet - -1L
    short.foreach(id => assert(viaSql(id).isEmpty, s"doc $id"))
    assert(viaOp.nonEmpty)
  }

  test("dd_minhash_sig needs foldable n and k of at least 1") {
    for ((args, msg) <- Seq(
        "text, CAST(doc_id AS INT), 3" -> "should be a foldable",
        "text, 16, doc_id" -> "should be a foldable",
        "text, 0, 3" -> "must be between",
        "text, 16, CAST(NULL AS INT)" -> "must be between")) {
      val err = intercept[org.apache.spark.sql.AnalysisException] {
        docs.sparkSession.sql(
          s"SELECT dd_minhash_sig($args) FROM ${SqlSurface.DocsView}").collect()
      }
      assert(err.getMessage.contains(msg), s"$args: ${err.getMessage}")
    }
  }

  test("tx_chunks LATERAL equals TextAnalysis.chunks per document") {
    val viaSql = docs.sparkSession.sql(
      s"""SELECT d.doc_id, c.chunk_ix, c.chunk
         |FROM ${SqlSurface.DocsView} d, LATERAL tx_chunks(d.text, 32, 16) c""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    val viaOp = docs.select(col("doc_id"),
      posexplode(TextAnalysis.chunks(col("text"), 32, 16)).as(Seq("ix", "chunk")))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong) -> r.getString(2)).toMap
    assert(viaSql === viaOp)
    assert(viaSql.nonEmpty)
  }

  test("tx_bm25 table function equals Bm25.topK over the corpus view") {
    val terms = Seq("vector", "spark", "join")
    val viaSql = docs.sparkSession.sql(
      s"""SELECT doc_id, bm25
         |FROM tx_bm25(array(${terms.map(t => s"'$t'").mkString(",")}), 15)
         |ORDER BY bm25 DESC, doc_id ASC""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaOp = graft.text.Bm25.topK(docs, terms, 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaSql === viaOp)
    assert(viaSql.nonEmpty)
  }

  test("tx_pii_* functions equal their Column twins on planted PII") {
    docs // force registration
    import graft.text.Pii
    val planted = spark.createDataFrame(Seq(
        (0L, "mail ops@example.com or +1-555-867-5309 from 10.0.0.1"),
        (1L, "a@b.co c@d.io twice"),
        (2L, "nothing sensitive here"),
        // a non-ASCII letter next to the address: RE2's ASCII \b (DuckDB)
        // masks it, so the SQL functions must too
        (3L, "é1.2.3.4 x"),
        (4L, "1.2.3.4中"))).toDF("id", "t")
    planted.createOrReplaceTempView("pii_probe")
    val viaSql = spark.sql(
      """SELECT id, tx_pii_emails(t), tx_pii_phones(t), tx_pii_ips(t),
        |       tx_pii_redact(t) FROM pii_probe""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val viaCols = planted.select(col("id"),
      Pii.emailCount(col("t")), Pii.phoneCount(col("t")),
      Pii.ipv4Count(col("t")), Pii.redact(col("t")))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(viaSql === viaCols)
    assert(viaSql(0L).last === "mail <EMAIL> or <PHONE> from <IP>")
    assert(viaSql(3L).last === "é<IP> x")
    assert(viaSql(4L).last === "<IP>中")
  }

  test("registration is idempotent and covers the declared surface") {
    SqlSurface.registerAll(spark) // second call: OR REPLACE, no throw
    for (name <- ScalarFunctions :+ "tx_chunks" :+ "tx_bm25")
      assert(spark.catalog.functionExists(name), name)
  }

  private val ScalarFunctions = Seq("tx_token_count", "tx_lex_token_count",
    "tx_stopword_ratio", "tx_avg_token_len", "tx_quality_score", "tx_lang_id",
    "tx_fingerprint", "tx_sorted_fingerprint", "tx_pii_emails", "tx_pii_phones",
    "tx_pii_ips", "tx_pii_redact", "dd_minhash_sig")

  test("no scalar function's plan holds a lambda; the token statistics compile whole-stage") {
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    docs // force registration
    for (f <- ScalarFunctions) {
      val args = if (f == "dd_minhash_sig") "text, 16, 3" else "text"
      val df = spark.sql(s"SELECT $f($args) AS out FROM ${SqlSurface.DocsView}")
      df.collect()
      val plans = Seq(df.queryExecution.analyzed, df.queryExecution.optimizedPlan)
      assert(!plans.exists(_.exists(_.expressions.exists(_.exists(_.isInstanceOf[LambdaFunction])))),
        s"$f:\n${df.queryExecution.analyzed}")
      if (Set("tx_quality_score", "tx_lang_id", "tx_stopword_ratio")(f))
        assert(helper.find(df.queryExecution.executedPlan) {
          case w: WholeStageCodegenExec => w.child.exists(_.isInstanceOf[ProjectExec])
          case _ => false
        }.isDefined, s"$f:\n${df.queryExecution.executedPlan}")
    }
  }
}
