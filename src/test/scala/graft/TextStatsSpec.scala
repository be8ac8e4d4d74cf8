package graft

import scala.sys.process._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._

import graft.text.{Pii, TextAnalysis}

/** The byte-scan token statistics behind [[TextAnalysis]] (`tokenCount`,
  * `markerCount`, `alphaTokenFraction`, `topWordFrac` and every score
  * built on them) and the guarded PII passes behind [[Pii]] (`redact`
  * and the three counts) equal the column expressions they replaced
  * (inlined below as the parity mirror), under whole-stage codegen and
  * interpreted evaluation. The JVM IPv4 pass equals DuckDB's on addresses
  * next to non-ASCII letters, and the stages compile with no lambda. */
class TextStatsSpec extends KernelModes {

  // ---- the replaced column expressions -------------------------------

  private def toks(t: Column): Column = split(t, " ")
  private def oldTokenCount(t: Column): Column = size(toks(t))
  private def oldMarkerCount(t: Column, markers: Seq[String]): Column =
    size(filter(toks(t), x => x.isin(markers.map(_.asInstanceOf[Any]): _*)))
  private def oldStopwordRatio(t: Column): Column =
    oldMarkerCount(t, TextAnalysis.Stopwords).cast("double") / oldTokenCount(t).cast("double")
  private def oldAvgTokenLen(t: Column): Column =
    (length(t) - oldTokenCount(t) + 1).cast("double") / oldTokenCount(t).cast("double")
  private def oldAlphaTokenFraction(t: Column): Column =
    size(filter(toks(t), x => x.rlike("[A-Za-z]"))).cast("double") /
      oldTokenCount(t).cast("double")
  private def oldSymbolRatio(t: Column): Column =
    regexp_count(t, lit("#|\\.\\.\\.")).cast("double") / oldTokenCount(t).cast("double")
  private def oldQualityScore(t: Column): Column = {
    val lenFactor = least(oldTokenCount(t).cast("double") / 100.0, lit(1.0))
    (lit(1.0) - oldStopwordRatio(t)) * lenFactor
  }
  private def oldLangId(t: Column): Column = {
    val scores = TextAnalysis.LangMarkers.map { case (l, ms) => l -> oldMarkerCount(t, ms) }
    val allZero = scores.map(_._2 === 0).reduceLeft(_ && _)
    val cases = scores.zipWithIndex.foldRight(lit("und")) { case (((lang, score), i), els) =>
      val rest = scores.drop(i + 1).map(_._2)
      val isMax = rest match {
        case Seq() => lit(true)
        case Seq(only) => score >= only
        case many => score >= greatest(many: _*)
      }
      when(isMax, lit(lang)).otherwise(els)
    }
    when(allZero, lit("und")).otherwise(cases)
  }
  private def oldTopWordFrac(t: Column): Column = {
    val counts = transform(array_distinct(toks(t)), w => size(filter(toks(t), x => x === w)))
    array_max(counts).cast("double") / size(toks(t)).cast("double")
  }
  /** The regexp chain of the old `Pii.redact`, over a chosen IPv4 pattern. */
  private def oldRedact(t: Column, ipv4Re: String): Column =
    regexp_replace(regexp_replace(regexp_replace(t, Pii.EmailRe, "<EMAIL>"),
      Pii.PhoneRe, "<PHONE>"), ipv4Re, "<IP>")
  private def oldCount(t: Column, re: String): Column = regexp_count(t, lit(re)).cast("long")

  // ---- inputs ---------------------------------------------------------

  private val edgeTexts: Seq[String] = Seq(
    null, "", " ", "  ", "a  b", " lead the a", "trail of ", "  both  ends  ",
    "The THE the tHe of OF", "Der die DAS und ist nicht", "de5 shi4 le5 zai4 he2 you3",
    "el los las es una por le la les est une dans", "la le der die the a",
    "ünï cödé 日本語 the テキスト 🙂 ü", "tab\tis not a space", "a.b c#d ... e", "...", "#",
    "12 34 _ -- ?!", "x y x y x", "a a a a b b b",
    // decoys: a guard byte with no match
    "x@y", "@ at @@", "a@b", "+ plus +1 +1-2", "+1-555-867", "1.2.3", "v1.2.3.4rc",
    "1.2.3.4.5", "999.1.1.1", "1234.1.1.1", "x10.0.0.1",
    // PII at the start and the end, alone, and adjacent
    "ops@example.com", "mail ops@example.com", "ops@example.com mail",
    "+1-555-867-5309", "call +1-555-867-5309", "+1-555-867-5309 now",
    "10.0.0.1", "host 10.0.0.1", "10.0.0.1 up",
    "a@b.co+1-555-867-5309", "1.2.3.4 5.6.7.8", "1.2.3.4,5.6.7.8", "a@b.co c@d.io",
    "a@b.co 10.0.0.1+44-20-7946-0958", "+1-555-867-5309+1-555-867-5309",
    // IPv4 next to non-ASCII and ASCII word chars
    "é1.2.3.4 x", "1.2.3.4中", "_1.2.3.4", "a1.2.3.4", "中1.2.3.4é", "1.2.3.4ü5.6.7.8")

  /** Seeded docs of 0–60 tokens: stopwords of every language in three
    * cases, PII, decoys, multi-byte and empty tokens; one token in eight
    * is glued to the one before it, so PII meets letters and digits. */
  private lazy val corpusTexts: Seq[String] = {
    val rng = new scala.util.Random(20261020L)
    val words = TextAnalysis.LangMarkers.flatMap(_._2).distinct
    val vocab = (words ++ words.map(_.toUpperCase) ++ words.map(_.capitalize) ++ Seq(
      "w1", "w2", "w3", "data", "", "ünï", "日本語", "🙂", "é", "中", "_", "x9",
      "ops@example.com", "a.b+tag@sub.example.org", "+1-555-867-5309", "+44-20-7946-0958",
      "10.0.0.1", "192.168.1.254", "999.1.1.1", "1.2.3.4.5", "1.2.3",
      "@", "+", ".", "...", "#", "a.b", "123", "+1-2")).toArray
    (0 until 3000).map { _ =>
      val sb = new StringBuilder
      (0 until rng.nextInt(61)).foreach { i =>
        if (i > 0 && rng.nextInt(8) != 0) sb += ' '
        sb ++= vocab(rng.nextInt(vocab.length))
      }
      sb.toString
    }
  }

  private lazy val allTexts = edgeTexts ++ corpusTexts

  // ---- parity ---------------------------------------------------------

  private def byId(rows: Array[Row]): Map[Long, Seq[Any]] =
    rows.map(r => r.getLong(0) -> r.toSeq.tail).toMap

  /** Each `(name, new, old)` column: `new` runs in the mode under test,
    * `old` is the mirror, and the two are equal on every row. */
  private def assertParity(mode: String, df: DataFrame, cols: Seq[(String, Column, Column)]): Unit = {
    val got = byId(run(mode, df.select(col("id") +: cols.map(_._2): _*)))
    val want = byId(df.select(col("id") +: cols.map(_._3): _*).collect())
    assert(got.size === df.count())
    val text = byId(df.select(col("id"), col("text")).collect())
    for ((id, g) <- got; (w, j) <- want(id).zipWithIndex)
      assert(g(j) == w, s"${cols(j)._1} on '${text(id).head}'")
  }

  for ((mode, conf) <- Modes) {

    test(s"token statistics equal the split/filter/transform expressions ($mode)") {
      withConf(conf) {
        val t = col("text")
        val markerCols = (("stop", TextAnalysis.Stopwords) +: TextAnalysis.LangMarkers).map {
          case (name, ms) => (s"markerCount $name", TextAnalysis.markerCount(t, ms),
            oldMarkerCount(t, ms))
        }
        assertParity(mode, frame(allTexts), Seq(
          ("tokenCount", TextAnalysis.tokenCount(t), oldTokenCount(t)),
          ("stopwordRatio", TextAnalysis.stopwordRatio(t), oldStopwordRatio(t)),
          ("avgTokenLen", TextAnalysis.avgTokenLen(t), oldAvgTokenLen(t)),
          ("alphaTokenFraction", TextAnalysis.alphaTokenFraction(t), oldAlphaTokenFraction(t)),
          ("symbolRatio", TextAnalysis.symbolRatio(t), oldSymbolRatio(t)),
          ("qualityScore", TextAnalysis.qualityScore(t), oldQualityScore(t)),
          ("langId", TextAnalysis.langId(t), oldLangId(t)),
          ("topWordFrac", TextAnalysis.topWordFrac(t), oldTopWordFrac(t))) ++ markerCols)
      }
    }

    test(s"PII redact and counts equal the regexp expressions over the JVM patterns ($mode)") {
      withConf(conf) {
        val t = col("text")
        assertParity(mode, frame(allTexts), Seq(
          ("redact", Pii.redact(t), oldRedact(t, Pii.Ipv4JvmRe)),
          ("emailCount", Pii.emailCount(t), oldCount(t, Pii.EmailRe)),
          ("phoneCount", Pii.phoneCount(t), oldCount(t, Pii.PhoneRe)),
          ("ipv4Count", Pii.ipv4Count(t), oldCount(t, Pii.Ipv4JvmRe))))
      }
    }
  }

  test("the corpus exercises every stage: matches, decoys and language verdicts") {
    val rows = frame(allTexts).select(Pii.emailCount(col("text")), Pii.phoneCount(col("text")),
      Pii.ipv4Count(col("text")), TextAnalysis.langId(col("text"))).collect()
    for (j <- 0 to 2) assert(rows.count(r => !r.isNullAt(j) && r.getLong(j) > 0) > 100, j)
    assert(Set("und", "en", "de", "es", "fr", "zh").subsetOf(rows.map(_.getString(3)).toSet))
  }

  test("the ASCII-boundary IPv4 pass differs from Java's \\b only next to non-ASCII chars") {
    val rows = frame(allTexts).select(col("text"), Pii.redact(col("text")),
      oldRedact(col("text"), Pii.Ipv4Re)).collect()
    val differ = rows.filter(r => r.get(1) != r.get(2)).map(_.getString(0))
    assert(differ.nonEmpty, "premise: the corpus has IPv4 next to a non-ASCII letter")
    val nonAsciiByDigit = "[^\\x00-\\x7F][0-9]|[0-9][^\\x00-\\x7F]".r
    assert(differ.forall(nonAsciiByDigit.findFirstIn(_).isDefined), differ.take(5).mkString("; "))
  }

  // ---- the DuckDB mirror at the word boundary ------------------------

  /** `(text, redactSql, countSql(Ipv4Re))` as DuckDB 1.0.0 answers them. */
  private val duckIpv4: Seq[(String, String, Long)] = Seq(
    ("é1.2.3.4 x", "é<IP> x", 1L),
    ("1.2.3.4中", "<IP>中", 1L),
    ("_1.2.3.4", "_1.2.3.4", 0L),
    ("a1.2.3.4", "a1.2.3.4", 0L),
    ("é1.2.3.4é", "é<IP>é", 1L),
    ("中1.2.3.4 end", "中<IP> end", 1L),
    ("x 1.2.3.4_", "x 1.2.3.4_", 0L),
    ("1.2.3.4.5", "<IP>.5", 1L),
    ("999.1.1.1", "<IP>", 1L),
    ("1.2.3.4ü5.6.7.8", "<IP>ü<IP>", 2L))

  test("redact and ipv4Count equal DuckDB's redactSql and countSql next to non-ASCII letters") {
    import spark.implicits._
    val df = duckIpv4.map(_._1).toDF("text")
    val got = df.select(col("text"), Pii.redact(col("text")), Pii.ipv4Count(col("text")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === duckIpv4)
    // the pattern the JVM used before: Java's \b sees é and 中 as word chars
    val old = df.select(oldRedact(col("text"), Pii.Ipv4Re)).collect().map(_.getString(0))
    assert(old.head === "é1.2.3.4 x" && old(1) === "1.2.3.4中")
  }

  test("the pinned DuckDB answers are DuckDB's") {
    // texts travel as UTF-8 hex: the child's argv charset may not be UTF-8
    def hex(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02x").mkString
    val sql = s"SELECT ${Pii.redactSql("$1")}, ${Pii.countSql("$1", Pii.Ipv4Re)}"
    // one line per text: the redacted text's UTF-8 hex, then the count
    val script = "import duckdb, sys\n" +
      "for h in sys.argv[2:]:\n" +
      "  r, n = duckdb.execute(sys.argv[1], [bytes.fromhex(h).decode()]).fetchone()\n" +
      "  print(r.encode().hex(), n)"
    val out = Seq.newBuilder[String]
    val exit = (Seq("python3", "-c", script, sql) ++ duckIpv4.map(d => hex(d._1))) !
      ProcessLogger(out += _, _ => ())
    assume(exit == 0, "python3 with duckdb is not available")
    assert(out.result() === duckIpv4.map { case (_, r, n) => s"${hex(r)} $n" })
  }

  // ---- plans ----------------------------------------------------------

  test("the quality, stopword, language-id, repetition and redaction stages compile whole-stage with no lambda") {
    def shape(c: Column): (Boolean, Boolean) = {
      val df = frame(corpusTexts).select(col("id"), c.as("out"))
      df.collect()
      val lambda = df.queryExecution.optimizedPlan
        .exists(_.expressions.exists(_.exists(_.isInstanceOf[LambdaFunction])))
      val wholeStage = find(df.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec => w.child.exists(_.isInstanceOf[ProjectExec])
        case _ => false
      }.isDefined
      (wholeStage, lambda)
    }
    val t = col("text")
    assert(shape(oldQualityScore(t)) === ((false, true)), "premise: the check sees both")
    for ((name, c) <- Seq(
        "qualityScore" -> TextAnalysis.qualityScore(t),
        "stopwordRatio" -> TextAnalysis.stopwordRatio(t),
        "langId" -> TextAnalysis.langId(t),
        "alphaTokenFraction" -> TextAnalysis.alphaTokenFraction(t),
        "topWordFrac" -> TextAnalysis.topWordFrac(t),
        "Pii.redact" -> Pii.redact(t)))
      assert(shape(c) === ((true, false)), name)
  }
}
