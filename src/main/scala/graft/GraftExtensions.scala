package graft

import org.apache.spark.sql.{AnalysisException, Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.{call_function, coalesce, typedLit, when}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.dedup.Dedup
import graft.functions.{CosineSimilarity, DotProduct, L2Distance}
import graft.text.{Pii, TextAnalysis}

/** Engine extensions, registered via
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (or
  * `.withExtensions(new GraftExtensions)`): native codegen'd functions
  * callable from both SQL and the Column API. Each SQL function's builder
  * calls the engine's own operator, so SQL text and the Column API
  * analyze to the same expression tree.
  *
  * Vector metrics, over ARRAY<DOUBLE> arguments:
  *  - `cosine_sim(a, b)`: fused single-pass cosine similarity
  *    ([[CosineSimilarity]]) — the hot-path form for wide embedding columns.
  *  - `dot_product(a, b)` / `l2_distance(a, b)`: the other two metrics the
  *    engine's index math uses ([[graft.functions.DotProduct]],
  *    [[graft.functions.L2Distance]]).
  *
  * Text operators, over a STRING argument `t`:
  *  - `tx_token_count(t)` BIGINT, `tx_lex_token_count(t)` BIGINT,
  *    `tx_stopword_ratio(t)`, `tx_avg_token_len(t)`, `tx_quality_score(t)`,
  *    `tx_lang_id(t)`, `tx_fingerprint(t)`, `tx_sorted_fingerprint(t)`:
  *    [[TextAnalysis]]'s `tokenCount`, `lexTokenCount`, `stopwordRatio`,
  *    `avgTokenLen`, `qualityScore`, `langId`, `fingerprint` and
  *    `sortedTokenFingerprint`.
  *  - `tx_pii_emails(t)`, `tx_pii_phones(t)`, `tx_pii_ips(t)` (BIGINT) and
  *    `tx_pii_redact(t)`: [[Pii]]'s counts and redaction.
  *  - `dd_minhash_sig(t, n, k)` ARRAY<BIGINT>: [[Dedup.minhashSignature]],
  *    `n` hashes over word `k`-grams. `n` and `k` must be foldable and
  *    ≥ 1. A text of fewer than `k` tokens gives `array()`, a NULL text
  *    NULL.
  *
  * The corpus-level table functions `tx_chunks` and `tx_bm25` are SQL
  * UDFs ([[graft.sql.SqlSurface]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.Functions.foreach { case (name, arity, build) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (args: Seq[Expression]) => {
          if (args.length != arity)
            throw new AnalysisException(
              errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
              messageParameters = Map(
                "functionName" -> name, "expectedNum" -> arity.toString,
                "actualNum" -> args.length.toString, "docroot" -> ""))
          build(args)
        }))
    }
}

object GraftExtensions {

  /** A text function: `op` over its one argument, cast to STRING. */
  private def text(op: Column => Column): Seq[Expression] => Expression =
    args => ColumnBridge.converted(op(ColumnBridge.column(args.head).cast("string")))

  /** `dd_minhash_sig(t, n, k)`: the signature, `array()` where the text
    * has fewer than `k` tokens, NULL on a NULL text. */
  private def minhashSig(args: Seq[Expression]): Expression = {
    def sqlExpr = s""""dd_minhash_sig(${args.map(_.sql).mkString(", ")})""""
    def atLeastOne(name: String, e: Expression): Int = {
      if (!e.foldable || !Seq(ByteType, ShortType, IntegerType, LongType).contains(e.dataType))
        throw new AnalysisException(
          errorClass = "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
          messageParameters = Map("sqlExpr" -> sqlExpr, "inputName" -> s"`$name`",
            "inputType" -> "\"INT\"", "inputExpr" -> s""""${e.sql}""""))
      val v = Option(e.eval()).map(_.toString.toLong)
      if (!v.exists(x => x >= 1 && x <= Int.MaxValue))
        throw new AnalysisException(
          errorClass = "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE",
          messageParameters = Map("sqlExpr" -> sqlExpr, "exprName" -> s"`$name`",
            "valueRange" -> s"[1, ${Int.MaxValue}]", "currentValue" -> v.fold("NULL")(_.toString)))
      v.get.toInt
    }
    val (hashes, k) = (atLeastOne("n", args(1)), atLeastOne("k", args(2)))
    text(t => when(t.isNotNull,
      coalesce(Dedup.minhashSignature(t, hashes, k), typedLit(Seq.empty[Long]))))(args)
  }

  /** (name, arity, builder) of every injected function. */
  private val Functions: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", 2, a => CosineSimilarity(a(0), a(1))),
    ("dot_product", 2, a => DotProduct(a(0), a(1))),
    ("l2_distance", 2, a => L2Distance(a(0), a(1))),
    ("tx_token_count", 1, text(TextAnalysis.tokenCount(_).cast("long"))),
    ("tx_lex_token_count", 1, text(TextAnalysis.lexTokenCount(_).cast("long"))),
    ("tx_stopword_ratio", 1, text(TextAnalysis.stopwordRatio)),
    ("tx_avg_token_len", 1, text(TextAnalysis.avgTokenLen)),
    ("tx_quality_score", 1, text(TextAnalysis.qualityScore)),
    ("tx_lang_id", 1, text(TextAnalysis.langId)),
    ("tx_fingerprint", 1, text(TextAnalysis.fingerprint)),
    ("tx_sorted_fingerprint", 1, text(TextAnalysis.sortedTokenFingerprint)),
    ("tx_pii_emails", 1, text(Pii.emailCount)),
    ("tx_pii_phones", 1, text(Pii.phoneCount)),
    ("tx_pii_ips", 1, text(Pii.ipv4Count)),
    ("tx_pii_redact", 1, text(Pii.redact)),
    ("dd_minhash_sig", 3, minhashSig))

  /** Column API for the registered functions (session must carry
    * [[GraftExtensions]]). Casts inputs to ARRAY<DOUBLE>. */
  def cosineSim(a: Column, b: Column): Column =
    call_function("cosine_sim", a.cast("array<double>"), b.cast("array<double>"))

  def dotProduct(a: Column, b: Column): Column =
    call_function("dot_product", a.cast("array<double>"), b.cast("array<double>"))

  def l2Distance(a: Column, b: Column): Column =
    call_function("l2_distance", a.cast("array<double>"), b.cast("array<double>"))
}
