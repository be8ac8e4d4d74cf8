package graft

import org.apache.spark.sql.functions._

import graft.model.VectorModel
import graft.text.Bm25

/** Properties of the BM25 ranking (the oracle gate covers value equality;
  * these check the ranking semantics hold on their own terms). */
class TextSpec extends SparkSpec {

  lazy val docs = VectorModel.documents(spark, Sf0001).cache()

  test("BM25 top-k: scores descend, ties break by id, all hits contain a query term") {
    val terms = Seq("vector", "spark", "join")
    val res = Bm25.topK(docs, terms, 10).collect()
    assert(res.nonEmpty)
    val scores = res.map(_.getDouble(1))
    assert(scores.sameElements(scores.sortBy(-_)), "scores must be non-increasing")
    res.sliding(2).foreach {
      case Array(a, b) =>
        if (a.getDouble(1) == b.getDouble(1)) assert(a.getLong(0) < b.getLong(0))
      case _ =>
    }
    val hitIds = res.map(_.getLong(0)).toSet
    val withTerm = docs
      .where(terms.map(t => array_contains(split(lower(col("text")), " "), t)).reduce(_ || _))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hitIds.subsetOf(withTerm), "every hit must contain at least one query term")
  }

  test("BM25 favors the doc with more query-term occurrences, all else equal") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark spark spark filler filler filler"),
      (2L, "spark filler filler filler filler filler"),
      (3L, "filler filler filler filler filler filler"),
      (4L, "other words entirely present here now"))
      .toDF("doc_id", "text")
    val res = Bm25.topK(corpus, Seq("spark"), 4).collect()
    assert(res.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(res(0).getDouble(1) > res(1).getDouble(1))
  }

  test("chunks: sliding windows match the token slices, cover every token, overlap by size-stride") {
    import spark.implicits._
    import graft.text.TextAnalysis
    val text = (1 to 11).map(i => s"w$i").mkString(" ")
    val out = Seq((1L, text)).toDF("doc_id", "text")
      .select(posexplode(TextAnalysis.chunks(col("text"), 5, 3)).as(Seq("ix", "chunk")))
      .collect().map(r => (r.getInt(0), r.getString(1)))
    val toks = text.split(" ")
    // starts 0,3,6,9 -> four windows, trailing ones shorter than size
    val expected = Seq(0, 3, 6, 9).zipWithIndex.map { case (s, i) =>
      (i, toks.slice(s, s + 5).mkString(" "))
    }
    assert(out.toSeq === expected)
    // every token appears in at least one chunk; consecutive windows share
    // size-stride tokens while both are full
    assert(toks.forall(t => out.exists(_._2.split(" ").contains(t))))
    assert(out(0)._2.split(" ").drop(3).toSeq === out(1)._2.split(" ").take(2).toSeq)
  }

  test("cjkTokens: character bigrams for CJK runs, word tokens for Latin, singles pass through") {
    import graft.text.TextAnalysis
    val rows = spark.createDataFrame(Seq(
      (1, "向量数据库"),            // pure CJK: overlapping bigrams
      (2, "Spark 处理 数据"),       // mixed: Latin word + CJK bigrams
      (3, "hello world"),           // pure Latin: unchanged
      (4, "中 x")                   // single CJK char: passes through
    )).toDF("id", "t")
      .select(col("id"), TextAnalysis.cjkTokens(col("t")).as("toks"),
        TextAnalysis.cjkNormalize(col("t")).as("norm"))
      .collect().map(r => r.getInt(0) -> (r.getSeq[String](1), r.getString(2))).toMap
    assert(rows(1)._1 === Seq("向量", "量数", "数据", "据库"))
    assert(rows(2)._1 === Seq("Spark", "处理", "数据"))
    assert(rows(3)._1 === Seq("hello", "world"))
    assert(rows(4)._1 === Seq("中", "x"))
    assert(rows(1)._2 === "向量 量数 数据 据库")
    // downstream operators see real tokens: n-gram dedup over two CJK
    // near-duplicates now shares most shingles instead of zero
    val docs = spark.createDataFrame(Seq(
      (10L, "向量数据库支持高效的相似度搜索"),
      (11L, "向量数据库支持高效的相似搜索"),
      (12L, "完全不同的另一句话内容")))
      .toDF("doc_id", "raw")
      .select(col("doc_id"), TextAnalysis.cjkNormalize(col("raw")).as("text"))
    val pairs = graft.dedup.Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((10L, 11L)))
  }

  test("cjkTokensDict: FMM segments real words; measurably better than bigrams") {
    import graft.text.TextAnalysis
    val fixture = graft.queries.TextQueries.CjkFixture
    val df = spark.createDataFrame(fixture).toDF("fid", "t")
      .select(col("fid"),
        TextAnalysis.cjkTokensDict(col("t")).as("dict_toks"),
        TextAnalysis.cjkTokens(col("t")).as("bi_toks"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[String](1), r.getSeq[String](2)))
    val dict = TextAnalysis.CjkDict.toSet
    df.foreach { case (fid, dictToks, biToks) =>
      val original = fixture.find(_._1 == fid).get._2
      // reconstruction: the segmentation is a partition of each token
      assert(dictToks.mkString("") === original.replace(" ", ""), s"fid $fid")
      // every multi-char CJK token is a REAL dictionary word
      val cjkMulti = dictToks.filter(t =>
        t.length >= 2 && t.exists(c => c >= 0x4E00 && c <= 0x9FFF))
      assert(cjkMulti.forall(dict), s"fid $fid: $cjkMulti")
      // the driver-side mirror agrees with the expression exactly
      val mirrored = original.split(" ").toSeq.flatMap { tok =>
        if (tok.exists(c => c >= 0x4E00 && c <= 0x9FFF))
          TextAnalysis.fmmSegment(tok)
        else Seq(tok)
      }
      assert(dictToks === mirrored, s"fid $fid")
      // measurably better tokens: bigrams manufacture cross-word strings
      // that are NOT words (false n-gram match surface); FMM does not
      val biJunk = biToks.filter(t => t.length == 2 &&
        t.exists(c => c >= 0x4E00 && c <= 0x9FFF) && !dict(t))
      if (fid < 6) assert(biJunk.nonEmpty, s"fid $fid bigram junk expected")
    }
    // mean CJK token length: dictionary tokens are longer (real words)
    val dictLens = df.flatMap(_._2).filter(_.exists(c => c >= 0x4E00 && c <= 0x9FFF)).map(_.length)
    val biLens = df.flatMap(_._3).filter(_.exists(c => c >= 0x4E00 && c <= 0x9FFF)).map(_.length)
    assert(dictLens.sum.toDouble / dictLens.size > biLens.sum.toDouble / biLens.size)
    // query segmentation: real words, not bigrams
    assert(graft.queries.TextQueries.cjkDictQueryTerms === Seq("向量", "数据库", "搜索"))
  }

  test("cjkTokens invariants over generated mixed corpora") {
    import graft.text.TextAnalysis
    // deterministic generator mixing latin words, CJK runs, digits
    val latin = Vector("alpha", "beta", "gamma", "delta", "x1", "42")
    val cjk = Vector("向量", "数据库", "分布式计算", "检索", "模型")
    val rng = new scala.util.Random(99)
    val texts = (0 until 60).map { _ =>
      (0 until (1 + rng.nextInt(8))).map { _ =>
        if (rng.nextBoolean()) latin(rng.nextInt(latin.size)) else cjk(rng.nextInt(cjk.size))
      }.mkString(" ")
    }
    val rows = spark.createDataFrame(texts.zipWithIndex.map { case (t, i) => (i, t) })
      .toDF("i", "t")
      .select(col("i"), col("t"), TextAnalysis.cjkTokens(col("t")).as("toks"))
      .collect().map(r => (r.getString(1), r.getSeq[String](2))).toSeq
    rows.foreach { case (t, toks) =>
      val words = t.split(" ").toSeq
      // 1. latin-only text tokenizes exactly like whitespace split
      if (!t.exists(c => c >= '一' && c <= '鿿')) assert(toks === words)
      // 2. token count: each CJK word of length L >= 2 contributes L-1
      //    bigrams, everything else contributes itself
      val expectedCount = words.map { w =>
        if (w.exists(c => c >= '一' && c <= '鿿') && w.length >= 2) w.length - 1 else 1
      }.sum
      assert(toks.size === expectedCount, s"'$t' -> $toks")
      // 3. every emitted CJK bigram is a substring of the source text
      toks.filter(_.exists(c => c >= '一' && c <= '鿿')).foreach(b => assert(t.contains(b)))
      // 4. no empty tokens
      assert(toks.forall(_.nonEmpty))
    }
  }

  test("hash embedder properties: bag-of-tokens invariance, dim, integer-valued votes") {
    import graft.text.HashEmbedder
    val embedder = new HashEmbedder(16)
    val rng = new scala.util.Random(7)
    val vocab = Vector("spark", "vector", "join", "index", "query", "shuffle", "42")
    val bags = (0 until 40).map(_ => (0 until (1 + rng.nextInt(10)))
      .map(_ => vocab(rng.nextInt(vocab.size))))
    val df = spark.createDataFrame(bags.zipWithIndex.map { case (b, i) =>
      (i.toLong, b.mkString(" "), rng.shuffle(b).mkString(" "))
    }).toDF("i", "t", "shuffled")
      .select(col("i"), embedder.embed(col("t")).as("e"),
        embedder.embed(col("shuffled")).as("es"))
      .collect()
    df.foreach { r =>
      val e = r.getSeq[Double](1); val es = r.getSeq[Double](2)
      assert(e.length === 16)
      // permutation invariance: a bag of tokens embeds identically in any order
      assert(e === es)
      // votes are exact integers (sums of ±1 in doubles)
      assert(e.forall(x => x == math.rint(x)))
    }
    // sensitivity: different bags embed differently (collision would need
    // every per-bucket vote sum to coincide)
    val distinct = df.map(_.getSeq[Double](1)).distinct
    assert(distinct.length > 1)
  }

  test("hash embedder: one-pass kernel matches the per-dimension aggregate formula at dim=64, plan UDF-free") {
    // the kernel replaced a chain of dim `aggregate` calls (one full pass
    // over the token hashes PER COMPONENT — O(dim·tokens) a row); this
    // pins value-identity against that original formula at a model-sized
    // dim, over the real corpus including its CJK/punctuation rows
    val dim = 64
    val embedder = new graft.text.HashEmbedder(dim)
    val hs = transform(split(lower(col("text")), " "),
      t => graft.dedup.Dedup.hash60(t))
    val perDimension = array((0 until dim).map { i =>
      aggregate(hs, lit(0.0), (acc, h) =>
        acc + when(h % dim === i,
          when(shiftright(h, 8).bitwiseAND(1) === 1, lit(1.0)).otherwise(lit(-1.0)))
          .otherwise(lit(0.0)))
    }: _*)
    val mismatches = docs.limit(200)
      .select(embedder.embed(col("text")).as("fast"), perDimension.as("slow"))
      .where(not(col("fast") <=> col("slow")))
      .count()
    assert(mismatches === 0)
    val plan = docs.select(embedder.embed(col("text")).as("e"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), "embed stage must stay codegen-native")
  }

  test("RAG e2e: hash embedder → IVF index → search returns the planted near-dup first") {
    import graft.text.HashEmbedder
    val embedder = new HashEmbedder(16)
    val docs = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely different content about distributed query engines and shuffles"),
      (3L, "tokenizers and embeddings for retrieval augmented generation pipelines"),
      (4L, "weather patterns in the northern hemisphere during winter months"))).toDF("id", "text")
    val embedded = docs.select(col("id"), embedder.embed(col("text")).as("vector"))
    // same text → identical embedding (deterministic hash projection)
    val e1 = embedded.where(col("id") === 1L).head.getSeq[Double](1)
    val e1b = spark.range(1).select(embedder.embed(
      lit("the quick brown fox jumps over the lazy dog near the river bank")).as("v"))
      .head.getSeq[Double](0)
    assert(e1 === e1b)
    val (assigned, model) = graft.index.Ivf.fit(embedded, vecCol = "vector", idCol = "id", k = 2)
    val qv = spark.range(1).select(embedder.embed(
      lit("quick brown fox jumps over a lazy dog by the river")).as("v"))
      .head.getSeq[Double](0)
    val top = graft.index.Ivf
      .search(assigned, model, qv, 1, graft.index.Ivf.defaultRule(model),
        vecCol = "vector", idCol = "id")
      .collect()
    assert(top.length === 1 && top.head.getLong(0) === 1L,
      "the planted near-dup must rank first")
  }

  test("local-model embedder: save/load round-trips weights and embed equals the driver-side projection exactly") {
    import graft.text.LocalModelEmbedder
    val dim = 4; val feat = 16
    val w = LocalModelEmbedder.seeded(dim, feat, seed = 7L)
    val path = graft.store.Fs.scratchDir(spark, "graft_test_model") + "/w.csv"
    LocalModelEmbedder.save(spark, path, w)
    val loaded = LocalModelEmbedder.load(spark, path)
    assert(loaded.dim === dim && loaded.featBuckets === feat)
    (0 until dim).foreach(i => assert(loaded.weights(i).toSeq === w(i).toSeq))
    // value identity: out = W · hashEmbed(text), computed driver-side from
    // the hash embedder's own output — dyadic weights × integer votes means
    // EXACT equality is the right assertion, not a tolerance
    val hashed = docs.limit(100)
      .select(col("doc_id"), new graft.text.HashEmbedder(feat).embed(col("text")).as("f"),
        loaded.embed(col("text")).as("m"))
      .collect()
    hashed.foreach { r =>
      val f = r.getSeq[Double](1); val m = r.getSeq[Double](2)
      assert(m.length === dim)
      (0 until dim).foreach { i =>
        val expect = (0 until feat).map(j => w(i)(j) * f(j)).sum
        assert(m(i) === expect, s"component $i of doc ${r.getLong(0)}")
      }
    }
    // the serving plan stays codegen-native: weights ride the plan as
    // literals, no UDF stage
    val plan = docs.select(loaded.embed(col("text")).as("m"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), "local-model embed must stay codegen-native")
  }

  test("local-model embedder: malformed weight matrix fails loudly") {
    import graft.text.LocalModelEmbedder
    intercept[IllegalArgumentException] {
      new LocalModelEmbedder(Array(Array(1.0, 2.0), Array(1.0)), 2)
    }
  }

  test("chunks on the corpus: groups are contiguous from 0 and reconstruct the doc") {
    import graft.text.TextAnalysis
    val rows = docs.limit(20)
      .select(col("doc_id"), col("text"),
        posexplode(TextAnalysis.chunks(col("text"), 7, 7)).as(Seq("ix", "chunk")))
      .collect()
    assert(rows.nonEmpty)
    // stride == size: zero overlap, so concatenating a doc's chunks in
    // chunk_ix order must reproduce the doc exactly
    rows.groupBy(_.getLong(0)).foreach { case (_, grp) =>
      val sorted = grp.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq === sorted.indices.toSeq)
      assert(sorted.map(_.getString(3)).mkString(" ") === sorted.head.getString(1))
    }
  }
}
