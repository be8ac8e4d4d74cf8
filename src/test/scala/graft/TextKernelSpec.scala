package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.functions.{SignatureMatches, TextKernels}

/** The one-pass text kernels behind `Dedup.ngrams`, `shingles`, `hash60`,
  * `minhashSignatures` and `simhash`, and the LSH stages' signature match count, are
  * bit-identical to the column expressions they replaced (inlined below as
  * the parity mirror, as CosineSpec keeps `cosineConst`), under whole-stage
  * codegen and interpreted evaluation. */
class TextKernelSpec extends KernelModes {

  // ---- the replaced column expressions -------------------------------

  private def oldNgrams(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    transform(sequence(lit(0), size(toks) - k),
      i => concat_ws(" ", slice(toks, i + 1, lit(k))))
  }

  private def oldShingles(text: Column, k: Int): Column = array_distinct(oldNgrams(text, k))

  private def oldHash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  private def oldMinhashSignatures(df: DataFrame, k: Int, numHashes: Int): DataFrame = {
    val hashCols = (0 until numHashes).map(j =>
      min((lit(Dedup.minhashA(j)) * col("hm") + Dedup.minhashB(j)) % Dedup.MinhashP).as(s"h$j"))
    df.where(size(split(col("text"), " ")) >= k)
      .select(col("id").as("doc"), explode(oldShingles(col("text"), k)).as("sg"))
      .select(col("doc"), (oldHash60(col("sg")) % Dedup.MinhashP).as("hm"))
      .groupBy("doc").agg(hashCols.head, hashCols.tail: _*)
  }

  /** `Dedup.simhash` before its one-pass kernel: distinct shingles
    * exploded to rows, a 60-term ±1 vote aggregate per doc. */
  private def oldSimhash(df: DataFrame, k: Int, bits: Int): DataFrame = {
    val ex = df
      .where(size(split(col("text"), " ")) >= k)
      .select(col("id").as("doc"), explode(Dedup.shingles(col("text"), k)).as("sg"))
      .select(col("doc"), Dedup.hash60(col("sg")).as("hw"))
    val voteCols = (0 until bits).map(b =>
      sum(when(shiftright(col("hw"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b"))
    val votes = ex.groupBy("doc").agg(voteCols.head, voteCols.tail: _*)
    votes.select(col("doc"),
      (0 until bits).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduceLeft[Column](_ + _).as("simhash"))
  }

  // ---- inputs ---------------------------------------------------------

  private val Ks = Seq(2, 3, 5, 8)

  private val edgeTexts: Seq[String] = Seq(
    "", "a", "a b", "a b c", "a b c d e", "a b c d e f g h",
    " ", "  ", "a  b", "a  b  c d e f g h i", " lead a b c d e f g h",
    "trail a b c d e f g h ", "  both  ends  a b c d e f  ",
    "a a a a a a a a a a a a", "x y x y x y x y x y x y",
    "ünï cödé 日本語 テキスト ü ünï cödé 日本語 テキスト 🙂 a b",
    "tab\tis not a space a b c d e f g", null)

  /** 2000 seeded docs of 0–40 tokens over a small vocabulary (repeated
    * grams), with double, leading and trailing spaces and multi-byte
    * words; ids repeat so the signature's per-doc merge is exercised. */
  private lazy val corpusTexts: Seq[String] = {
    val rng = new scala.util.Random(20261019L)
    val vocab = Array("the", "a", "of", "data", "spark", "vector", "near", "dup",
      "ünï", "日本語", "テキスト", "🙂", "x", "y", "z", "", "w1", "w2", "w3", "w4")
    (0 until 2000).map { _ =>
      val n = rng.nextInt(41)
      Seq.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" ")
    }
  }

  private lazy val allTexts = edgeTexts ++ corpusTexts

  private val SigLen = 32

  /** Signature pairs of length [[SigLen]]: all-equal, none-equal, null
    * elements, and 600 seeded pairs over a 3-value alphabet (matches
    * everywhere from none to all), half of them a perturbed copy. */
  private lazy val sigPairs: DataFrame = {
    val rng = new scala.util.Random(20261019L)
    def draw(): Seq[java.lang.Long] = Seq.fill(SigLen)(Long.box(rng.nextInt(3).toLong))
    def fill(v: java.lang.Long) = Seq.fill(SigLen)(v)
    val fixed = Seq(fill(5L) -> fill(5L), fill(1L) -> fill(2L), fill(null) -> fill(null),
      fill(7L) -> fill(7L).updated(3, null), draw().updated(0, null) -> draw())
    val seeded = Seq.fill(600) {
      val a = draw()
      a -> (if (rng.nextBoolean()) draw()
        else a.map(x => if (rng.nextInt(4) == 0) Long.box(x + 1) else x))
    }
    val sig = ArrayType(LongType, containsNull = true)
    spark.createDataFrame(spark.sparkContext.parallelize(
      (fixed ++ seeded).map { case (a, b) => Row(a, b) }, 4),
      StructType(Seq(StructField("a", sig), StructField("b", sig))))
  }

  private def signatureMatches(a: Column, b: Column): Column = ColumnBridge.column(
    SignatureMatches(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  private def tokens(t: String): Int = t.split(" ", -1).length

  private def strings(r: Row, name: String): Seq[String] =
    Option(r.getAs[scala.collection.Seq[String]](name)).map(_.toSeq).orNull

  for ((mode, conf) <- Modes) {

    test(s"ngrams and shingles equal the transform/slice expressions for every k ($mode)") {
      withConf(conf) {
        val df = frame(allTexts)
        for (k <- Ks) {
          val guard = size(split(col("text"), " ")) >= k
          val rows = run(mode, df.select(col("text"),
            Dedup.ngrams(col("text"), k).as("n"), when(guard, oldNgrams(col("text"), k)).as("on"),
            Dedup.shingles(col("text"), k).as("s"), when(guard, oldShingles(col("text"), k)).as("os")))
          assert(rows.length === allTexts.length)
          for (r <- rows) {
            val t = r.getAs[String]("text")
            val (n, s) = (strings(r, "n"), strings(r, "s"))
            if (t == null) assert(n == null && s == null)
            else if (tokens(t) < k) assert(n === Seq.empty && s === Seq.empty, s"k=$k '$t'")
            else {
              assert(n === strings(r, "on"), s"k=$k '$t'")
              assert(s === strings(r, "os"), s"k=$k '$t'")
              assert(n.length === tokens(t) - k + 1)
            }
          }
        }
      }
    }

    test(s"hash60 equals the md5 hex round trip on texts and on every gram ($mode)") {
      withConf(conf) {
        val grams = frame(allTexts)
          .select(explode(Dedup.ngrams(col("text"), 2)).as("text"))
          .union(frame(allTexts).select(col("text")))
        val rows = run(mode, grams.select(col("text"),
          Dedup.hash60(col("text")).as("h"), oldHash60(col("text")).as("oh")))
        assert(rows.length > allTexts.length)
        for (r <- rows) {
          assert(r.get(1) === r.get(2), s"'${r.get(0)}'")
          if (r.get(0) != null)
            assert(TextKernels.hash60(r.getString(0)) === r.getLong(1), "the JVM hash60")
        }
        assert(rows.exists(r => r.get(0) == null && r.get(1) == null), "null in, null out")
      }
    }

    test(s"SignatureMatches equals the per-position CASE WHEN sum ($mode)") {
      withConf(conf) {
        val caseSum = (0 until SigLen)
          .map(j => when(col("a")(j) === col("b")(j), 1).otherwise(0))
          .reduceLeft[Column](_ + _)
        val got = run(mode, sigPairs.select(
          signatureMatches(col("a"), col("b")).as("m"), caseSum.as("want")))
        assert(got.forall(r => r.getInt(0) == r.getInt(1)),
          got.filter(r => r.getInt(0) != r.getInt(1)).take(3).mkString("; "))
        val counts = got.map(_.getInt(0)).toSet
        assert(counts(0) && counts(SigLen) && counts(SigLen - 1), counts)
      }
    }

    test(s"minhashSignatures equals the exploded shingle aggregation for every k ($mode)") {
      withConf(conf) {
        // ids repeat: every 7th doc shares its id with the doc before it
        val df = frame(allTexts, i => (i - (if (i % 7 == 0 && i > 0) 1 else 0)).toLong)
        for (k <- Ks; n <- Seq(4, 32)) {
          def sorted(d: DataFrame) = run(mode, d).map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
          val got = sorted(Dedup.minhashSignatures(df, "id", "text", n, k))
          val want = sorted(oldMinhashSignatures(df, k, n))
          assert(got.nonEmpty)
          assert(got === want, s"k=$k numHashes=$n")
        }
      }
    }

    test(s"simhash equals the exploded vote aggregation for every k and width ($mode)") {
      withConf(conf) {
        val df = frame(allTexts)
        for (k <- Ks; bits <- Seq(7, 60, 64)) {
          def sorted(d: DataFrame) = run(mode, d).map(r => (r.getLong(0), r.getLong(1)))
            .sortBy(_._1).toSeq
          val got = sorted(Dedup.simhash(df, "id", "text", k, bits))
          val want = sorted(oldSimhash(df, k, bits))
          assert(got.nonEmpty)
          assert(got === want, s"k=$k bits=$bits")
        }
      }
    }
  }

  test("SignatureMatches counts over the shorter array and is null on a null array") {
    def arr(xs: Long*) = ArrayData.toArrayData(xs.toArray)
    assert(TextKernels.signatureMatches(arr(1, 2, 3), arr(1, 5)) === 1)
    assert(TextKernels.signatureMatches(arr(), arr(1)) === 0)
    val df = spark.sql("SELECT CAST(NULL AS ARRAY<BIGINT>) AS a, ARRAY(1L) AS b")
    assert(df.select(signatureMatches(col("a"), col("b"))).head().isNullAt(0))
  }

  test("texts shorter than k give no grams where the old expression threw") {
    val short = frame(Seq("", "a", "a b"))
    val err = intercept[Exception](short.select(oldNgrams(col("text"), 3)).collect())
    assert(err.getMessage.contains("INVALID_PARAMETER_VALUE"), err.getMessage)
    assert(short.select(Dedup.ngrams(col("text"), 3)).collect().forall(_.getSeq(0).isEmpty))
    assert(short.select(Dedup.shingles(col("text"), 3)).collect().forall(_.getSeq(0).isEmpty))
  }

  test("the minhashSignatures plan has no Generate and no lambda") {
    def shape(df: DataFrame): (Boolean, Boolean) = {
      val plan = df.queryExecution.optimizedPlan
      (plan.exists(_.isInstanceOf[Generate]),
        plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[LambdaFunction]))))
    }
    val df = frame(corpusTexts)
    assert(shape(oldMinhashSignatures(df, 3, 32)) === ((true, true)), "premise: the check sees both")
    assert(shape(Dedup.minhashSignatures(df, "id", "text")) === ((false, false)))
  }

  test("the simhash plan has no Generate and no aggregate") {
    def shape(df: DataFrame): (Boolean, Boolean) = {
      val plan = df.queryExecution.optimizedPlan
      (plan.exists(_.isInstanceOf[Generate]), plan.exists(_.isInstanceOf[Aggregate]))
    }
    val df = frame(corpusTexts)
    assert(shape(oldSimhash(df, 3, 60)) === ((true, true)), "premise: the check sees both")
    assert(shape(Dedup.simhash(df, "id", "text")) === ((false, false)))
  }
}
