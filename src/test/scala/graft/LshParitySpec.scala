package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.model.VectorModel

/** The LSH pair stages keyed by exact band slices and counting matches with
  * [[graft.functions.SignatureMatches]] return the same
  * `(doc, doc, est_jaccard)` rows, bit for bit, as the formulation they
  * replaced: md5 band keys and a `CASE WHEN` term per signature position
  * (kept below as the reference). */
class LshParitySpec extends SparkSpec {

  // ---- the replaced formulation ----------------------------------------

  private def refBanded(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rpb = numHashes / bands
    val bandCols = (0 until bands).map(b => md5(concat_ws(",",
      (0 until rpb).map(r => col(s"h${b * rpb + r}").cast("string")): _*)))
    sig.select(col("doc"), array((0 until numHashes).map(j => col(s"h$j")): _*).as("sig"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
  }

  private def refEst(numHashes: Int): Column = round((0 until numHashes)
    .map(j => when(col("a.sig")(j) === col("b.sig")(j), 1).otherwise(0))
    .reduceLeft[Column](_ + _)
    .cast("double") / lit(numHashes.toDouble), 6)

  private def sameBand = col("a.band") === col("b.band") && col("a.bh") === col("b.bh")

  private def refPairs(sig: DataFrame, numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val bl = refBanded(sig, numHashes, bands)
    bl.as("a").join(bl.as("b"), sameBand && col("a.doc") < col("b.doc"))
      .select(col("a.doc"), col("b.doc"), refEst(numHashes).as("est_jaccard"))
      .where(col("est_jaccard") >= 0.5).distinct()
  }

  private def refIncremental(delta: DataFrame, corpus: DataFrame): DataFrame =
    refBanded(delta, 32, 8).as("a").join(refBanded(corpus, 32, 8).as("b"),
        sameBand && col("a.doc") =!= col("b.doc"))
      .select(col("a.doc"), col("b.doc"), refEst(32).as("est_jaccard"))
      .where(col("est_jaccard") >= 0.5).distinct()

  // ---- inputs ------------------------------------------------------------

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map((r: Row) => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  private lazy val docSig = Dedup.minhashSignatures(
    VectorModel.documents(spark, Sf0001), "doc_id", "text").cache()

  /** SkewSpec's hot bucket: 300 copies of one text and 100 distinct ones. */
  private lazy val hotSig = {
    import spark.implicits._
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val copies = (0 until 300).map(i => (i.toLong, dup))
    val varied = (300 until 400).map(i =>
      (i.toLong, s"unique document number $i talks about topic ${i * 7} " +
        s"with words w${i}a w${i}b w${i}c w${i}d"))
    Dedup.minhashSignatures((copies ++ varied).toDF("doc_id", "text"), "doc_id", "text").cache()
  }

  // ---- parity ------------------------------------------------------------

  test("lshCandidatePairs equals the md5-key, per-position-sum reference on the Sf0001 docs") {
    val want = rows(refPairs(docSig))
    assert(want.nonEmpty)
    assert(rows(Dedup.lshCandidatePairs(docSig)) === want)
    assert(rows(Dedup.lshCandidatePairs(docSig, bands = 16)) === rows(refPairs(docSig, 32, 16)))
  }

  test("lshCandidatePairs equals the reference on a 300-copy hot bucket, plain and salted") {
    val want = rows(refPairs(hotSig))
    assert(want.length >= 300 * 299 / 2)
    assert(rows(Dedup.lshCandidatePairs(hotSig)) === want)
    assert(rows(Dedup.lshCandidatePairs(hotSig, skewSalt = 8)) === want)
  }

  test("lshIncrementalPairs equals the reference, plain and salted") {
    for (sig <- Seq(docSig, hotSig)) {
      val delta = sig.where(col("doc") % 5 === 0)
      val want = rows(refIncremental(delta, sig))
      assert(want.nonEmpty)
      assert(rows(Dedup.lshIncrementalPairs(delta, sig)) === want)
      assert(rows(Dedup.lshIncrementalPairs(delta, sig, skewSalt = 4)) === want)
    }
  }
}
