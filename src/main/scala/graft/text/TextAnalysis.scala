package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{AlphaTokenCount, MarkerCount, TokenCount, TopTokenCount}

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, fingerprinting.
  *
  * All operators are pure column expressions (no UDFs) and have exact
  * DuckDB mirrors in [[graft.queries.TextQueries]]. The token statistics
  * ([[tokenCount]], [[markerCount]], [[alphaTokenFraction]],
  * [[topWordFrac]]) are one-pass byte-scan kernels of
  * [[graft.functions.TextKernels]] under the `split(text, " ")` token
  * rule, so [[stopwordRatio]], [[qualityScore]], [[langId]],
  * [[avgTokenLen]] and [[symbolRatio]] compile inside whole-stage codegen
  * with no lambda and no token array. This is the text pipeline the
  * reference evidences but never shipped (jieba/GTE deps with no
  * importing code — SURVEY.md "Reference size & layout" note).
  */
object TextAnalysis {

  /** Whitespace tokens. Spark `split` keeps trailing empties (limit -1),
    * matching DuckDB `string_split`. */
  def tokens(text: Column): Column = split(text, " ")

  private def kernel(text: Column, k: Expression => Expression): Column =
    ColumnBridge.column(k(ColumnBridge.expression(text)))

  /** `size(tokens(text))`, counted from the 0x20 bytes with no token
    * array ([[graft.functions.TokenCount]]). Like every token statistic
    * here it is null on a null text, as `size` is with ANSI mode on
    * (Spark 4's default). */
  def tokenCount(text: Column): Column = kernel(text, TokenCount)

  /** CJK unified-ideograph detector (the BMP block — the range jieba-class
    * tokenizers treat as Chinese text). */
  val CjkPattern = "[一-鿿]"

  /** Tokenizer with a CJK character-bigram fallback — the seam that makes
    * the text/dedup surface honest on Chinese corpora (the reference's own
    * evidenced pipeline: it declares jieba and ships a Chinese corpus,
    * /root/reference/pyproject.toml:7-13, data/datawhale.txt). Chinese
    * prose has no spaces, so whitespace tokenization degrades every
    * downstream operator to one-token-per-sentence no-ops; character
    * bigrams are the standard dictionary-free fallback (the CJK analyzer
    * approach in full-text search engines).
    *
    * Whitespace-split first; any token containing a CJK char expands to
    * its overlapping character bigrams (single-char tokens pass through),
    * other tokens pass through unchanged — so mixed Latin/CJK text keeps
    * exact word tokens for the Latin runs. Pure codegen'd expressions
    * (split / transform / substr / flatten), mirrored term-for-term in
    * DuckDB ([[graft.queries.TextQueries.cjkCorpusSql]]). */
  def cjkTokens(text: Column): Column =
    flatten(transform(tokens(text), t =>
      when(t.rlike(CjkPattern) && length(t) >= 2,
        transform(sequence(lit(1), length(t) - 1), i => t.substr(i, lit(2))))
        .otherwise(array(t))))

  /** CJK-normalized text: [[cjkTokens]] re-joined on single spaces, so
    * EVERY whitespace-tokenizing operator (BM25, n-gram dedup, vocab,
    * chunking, fingerprints) runs unchanged over the bigram token stream —
    * the fallback is one narrow normalization pass, not a fork of each
    * operator. */
  def cjkNormalize(text: Column): Column = array_join(cjkTokens(text), " ")

  /** Longest dictionary word considered by the FMM segmenter. */
  val CjkDictMaxLen = 4

  /** Small public-vocabulary dictionary fixture for the FMM segmenter —
    * common Chinese data-systems words (written for this repo; a
    * deployment swaps in a full wordlist at the same seam, which is the
    * jieba-grade upgrade the reference's declared dependency evidences,
    * /root/reference/pyproject.toml:13). */
  val CjkDict: Seq[String] = Seq(
    "向量", "数据库", "数据", "支持", "高效", "相似度", "相似", "搜索",
    "分布式", "计算", "引擎", "处理", "大规模", "机器学习", "模型",
    "需要", "大量", "训练", "去重", "管道", "关键", "步骤", "倒排",
    "索引", "加速", "关键词", "检索", "数据集", "超大规模")

  /** Dictionary-based CJK segmentation — forward maximum matching (the
    * classic greedy dictionary segmenter): at each position consume the
    * longest dictionary word (≤ [[CjkDictMaxLen]] chars), else one
    * character. Strictly better tokens than the bigram fallback where the
    * dictionary covers the text (real words, no cross-word-boundary
    * bigrams polluting n-gram matching — TextSpec measures both), same
    * honest degradation to single characters where it doesn't.
    *
    * The sequential scan is ONE `aggregate()` fold per token over its
    * character positions with a (pos, out) struct accumulator — pure
    * codegen'd expressions, no UDF — and is mirrored exactly by a
    * recursive CTE in DuckDB
    * ([[graft.queries.TextQueries.cjkCorpusDictSql]]), so the dictionary
    * path carries the same hash gate as the bigram one. Non-CJK tokens
    * pass through unchanged, like [[cjkTokens]]. */
  def cjkTokensDict(text: Column, dict: Seq[String] = CjkDict): Column = {
    val dictArr = array(dict.map(lit): _*)
    def isWord(w: Column) = array_contains(dictArr, w)
    def fmm(t: Column): Column =
      aggregate(
        sequence(lit(1), length(t)),
        struct(lit(1).as("pos"), lit("").as("out")),
        (acc, i) => {
          val pos = acc.getField("pos")
          val out = acc.getField("out")
          // longest match first; substr clamps at the token end, and a
          // clamped candidate that IS a (shorter) dictionary word still
          // counts at this length — the rule the DuckDB CTE and
          // [[fmmSegment]] mirror verbatim
          val stepExpr = (CjkDictMaxLen to 2 by -1).foldRight(lit(1)) {
            (l, els) => when(isWord(t.substr(i, lit(l))), lit(l)).otherwise(els)
          }
          val tokExpr = (CjkDictMaxLen to 2 by -1)
            .foldRight(t.substr(i, lit(1))) { (l, els) =>
              val w = t.substr(i, lit(l))
              when(isWord(w), w).otherwise(els)
            }
          when(i =!= pos, acc).otherwise(struct(
            (pos + stepExpr).as("pos"),
            concat(out, lit(" "), tokExpr).as("out")))
        },
        acc => acc.getField("out"))
    flatten(transform(tokens(text), t =>
      when(t.rlike(CjkPattern), split(ltrim(fmm(t)), " "))
        .otherwise(array(t))))
  }

  /** [[cjkNormalize]] over the dictionary segmenter. */
  def cjkNormalizeDict(text: Column): Column =
    array_join(cjkTokensDict(text), " ")

  /** Largest dictionary the literal-array FMM ([[cjkTokensDict]]) should
    * inline: past a few dozen words, every per-position candidate check
    * carries the whole word array as expression literals — plan size,
    * analysis cost, and generated code all grow with the dictionary, and
    * a jieba-scale wordlist (~350k entries) would blow janino's limits
    * outright. [[cjkTokensDictAuto]] switches to the broadcast kernel
    * above this size. */
  val CjkDictInlineMax = 64

  /** [[cjkTokensDict]] for LARGE wordlists — the jieba-grade upgrade the
    * seam advertises: the dictionary ships once per executor as a
    * broadcast, the per-token walk is the codegen'd
    * [[graft.functions.CjkFmmKernel]] (the same greedy longest-match rule
    * [[fmmSegment]] specifies — CjkDictSpec gates token identity against
    * the literal-array path on the shared fixture), and the PLAN is O(1)
    * in dictionary size (also spec-asserted). The surrounding
    * tokenize/passthrough shape is identical to [[cjkTokensDict]]. */
  def cjkTokensDictBig(text: Column, dict: Seq[String],
      maxLen: Int = CjkDictMaxLen): Column = {
    val kernel = fmmKernelFor(dict, maxLen)
    flatten(transform(tokens(text), t =>
      when(t.rlike(CjkPattern),
        graft.functions.CjkFmmExpressions.segment(t, kernel))
        .otherwise(array(t))))
  }

  /** Per-(dictionary, maxLen) kernel memo: [[cjkTokensDictBig]] returns a
    * `Column`, so callers naturally re-invoke it per query — without the
    * memo every call ships a fresh `sparkContext.broadcast` of the full
    * wordlist that is never destroyed (TorrentBroadcast retains the
    * blocks), leaking megabytes per call at jieba scale. Keyed on the
    * FULL (wordlist, maxLen) — not a 32-bit content hash, whose collision
    * between two dictionaries would silently serve the wrong kernel — per
    * SparkContext; bounded (few live dictionaries per app, each already
    * driver-resident), evicted wholesale when the context changes (a
    * stopped context's broadcasts are unusable). */
  private val fmmKernelMemo =
    new java.util.concurrent.ConcurrentHashMap[(Seq[String], Int), graft.functions.CjkFmmKernel]()
  @volatile private var fmmKernelMemoCtx: String = ""
  private def fmmKernelFor(dict: Seq[String], maxLen: Int)
      : graft.functions.CjkFmmKernel = synchronized {
    val spark = org.apache.spark.sql.SparkSession.active
    val ctx = spark.sparkContext.applicationId
    if (ctx != fmmKernelMemoCtx) { fmmKernelMemo.clear(); fmmKernelMemoCtx = ctx }
    fmmKernelMemo.computeIfAbsent((dict, maxLen), { case (d, ml) =>
      new graft.functions.CjkFmmKernel(
        spark.sparkContext.broadcast(d.toSet), ml)
    })
  }

  /** The dictionary seam's front door: inline-literal FMM for small
    * curated dictionaries (hash-gated against the DuckDB CTE mirror),
    * broadcast-kernel FMM past [[CjkDictInlineMax]] words. Both sides
    * produce identical tokens for the same dictionary. */
  def cjkTokensDictAuto(text: Column, dict: Seq[String] = CjkDict): Column =
    if (dict.size <= CjkDictInlineMax) cjkTokensDict(text, dict)
    else cjkTokensDictBig(text, dict)

  /** Driver-side mirror of [[cjkTokensDict]]'s FMM over one CJK string —
    * query-term segmentation and the spec's reference implementation. */
  def fmmSegment(s: String, dict: Set[String] = CjkDict.toSet): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      val hit = (CjkDictMaxLen to 2 by -1).iterator
        .map(l => (l, s.slice(i, math.min(i + l, s.length))))
        .find { case (_, w) => dict.contains(w) }
      hit match {
        case Some((l, w)) => out += w; i += l
        case None => out += s.substring(i, i + 1); i += 1
      }
    }
    out.toSeq
  }

  /** Sliding-window token chunks — the RAG chunking stage of the text
    * pipeline the reference evidences but never wrote (its declared deps
    * embed sentence chunks; SURVEY.md intro): window `size` tokens
    * stepping by `stride`, so consecutive chunks overlap by
    * `size − stride` tokens and every token belongs to at least one chunk
    * (trailing windows shorter than `size` are kept). Returns an array of
    * chunk strings; callers posexplode for (chunk_ix, chunk) rows.
    *
    * Pure expressions over the token array — one narrow pass, no shuffle:
    * at 100 TB chunking is a map stage that must never exchange the
    * corpus, and downstream embedding/indexing consumes the exploded rows
    * with whatever partitioning IT needs. */
  def chunks(text: Column, size: Int, stride: Int): Column = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val toks = tokens(text)
    transform(
      sequence(lit(0), org.apache.spark.sql.functions.size(toks) - 1, lit(stride)),
      s => concat_ws(" ", slice(toks, s + 1, lit(size))))
  }

  /** BPE-ish lexer token count: alpha runs, digit runs, or single
    * non-alphanumeric marks. */
  val LexPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def lexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(LexPattern), lit(0)))

  /** Count of tokens belonging to a fixed marker set: the tokens of
    * [[tokens]] whose bytes equal a marker, counted in one scan with no
    * token strings ([[graft.functions.MarkerCount]]). */
  def markerCount(text: Column, markers: Seq[String]): Column =
    kernel(text, MarkerCount(_, markers))

  val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  def stopwordRatio(text: Column): Column =
    markerCount(text, Stopwords).cast("double") / tokenCount(text).cast("double")

  /** Mean token length implied by chars/tokens (single-space tokenization):
    * (n_chars - (n_tokens - 1)) / n_tokens. */
  def avgTokenLen(text: Column): Column =
    (length(text) - tokenCount(text) + 1).cast("double") / tokenCount(text).cast("double")

  /** Fraction of tokens containing at least one ASCII letter — the
    * published "80% of words contain an alphabetic character" Gopher
    * rule's statistic. */
  def alphaTokenFraction(text: Column): Column =
    kernel(text, AlphaTokenCount).cast("double") / tokenCount(text).cast("double")

  /** Symbol-to-token ratio over the Gopher symbol set (# and …/...):
    * occurrences counted as non-overlapping regex matches. */
  def symbolRatio(text: Column): Column =
    regexp_count(text, lit("#|\\.\\.\\.")).cast("double") /
      tokenCount(text).cast("double")

  /** Composite quality score in [0,1]: favors mid-length docs with a sane
    * stopword rate. Deterministic arithmetic only. */
  def qualityScore(text: Column): Column = {
    val lenFactor = least(tokenCount(text).cast("double") / 100.0, lit(1.0))
    (lit(1.0) - stopwordRatio(text)) * lenFactor
  }

  /** Language-ID marker sets (tiny stopword profiles). With no marker hits
    * the verdict is "und". Deterministic tie-break: en > de > es > fr > zh. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "los", "las", "es", "una", "por"),
    "fr" -> Seq("le", "la", "les", "est", "une", "dans"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2", "you3"))

  /** Predicted language: argmax of marker counts with the fixed tie-break
    * order above; "und" when every count is zero. */
  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (lang, markers) => lang -> markerCount(text, markers) }
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

  /** Duplicate n-gram fraction (Gopher-style repetition filter): 1 −
    * distinct/total over the doc's raw n-grams ([[graft.dedup.Dedup.ngrams]],
    * WITH multiplicity: the duplicates are the signal). High values flag
    * boilerplate and degenerate repetition that survives dedup (repetition
    * is WITHIN a document, not across documents). Callers filter docs with
    * < n tokens, which have no n-grams. */
  def dupNgramFrac(text: Column, n: Int): Column = {
    val g = graft.dedup.Dedup.ngrams(text, n)
    lit(1.0) - size(array_distinct(g)).cast("double") / size(g).cast("double")
  }

  /** Top-word frequency ratio: occurrences of the most frequent token over
    * total tokens, counted in one pass over a per-doc token map
    * ([[graft.functions.TopTokenCount]]) — no explode, no shuffle. */
  def topWordFrac(text: Column): Column =
    kernel(text, TopTokenCount).cast("double") / tokenCount(text).cast("double")

  /** Exact content fingerprint (md5 of raw text). */
  def fingerprint(text: Column): Column = md5(text)

  /** Order-insensitive bag-of-words fingerprint: md5 over the sorted token
    * list — catches shuffled near-identical docs. */
  def sortedTokenFingerprint(text: Column): Column =
    md5(array_join(array_sort(split(lower(text), " ")), " "))

  /** Modulus for the rolling fingerprint (Mersenne 2^31-1: products of two
    * residues stay within 63 bits). */
  val RollP: Long = (1L << 31) - 1

  /** Order-sensitive rolling fingerprint: Σ (md5_60(token) mod P)·(pos+1)
    * mod P over token positions — a polynomial rolling hash that
    * distinguishes permutations of the same bag of words, cheap enough to
    * compute at ingest for every document. */
  def rollingFingerprint(tokensExploded: Column, posCol: Column): Column =
    // used through an aggregation: sum over rows of term(pos, token)
    (graft.dedup.Dedup.hash60(tokensExploded) % RollP) * (posCol + 1) % RollP
}
