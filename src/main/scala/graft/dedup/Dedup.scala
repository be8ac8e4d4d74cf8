package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{Hash60, MinhashSignature, SignatureMatches, SimhashSignature, WordNgrams}
import graft.operators.Par

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * All hashing is derived from md5 so the DuckDB oracle recomputes identical
  * signatures; everything is expression-level (codegen'd, no UDFs).
  *
  * Shingling and hashing run in the one-pass kernels of
  * [[graft.functions.TextKernels]]: [[ngrams]] and [[shingles]] cut each
  * k-gram from the text's bytes in one scan ([[graft.functions.WordNgrams]];
  * the `transform`/`slice` form re-split the whole text for every gram,
  * O(tokens²) per doc), [[hash60]] takes the md5 digest straight to its
  * 60-bit long ([[graft.functions.Hash60]], no hex-string round trip), and
  * [[minhashSignatures]] computes each row's whole signature from its text
  * ([[graft.functions.MinhashSignature]]) instead of exploding one row per
  * shingle into the per-doc aggregate.
  *
  * Scale notes (100 TB):
  *  - Exact dedup is one hash-shuffle on a 16-byte key — the cheapest path;
  *    run it first to shrink the input to the fuzzy stages.
  *  - Shingle-join candidate generation is quadratic per shingle bucket
  *    ([[ngramJaccardPairs]], kept as the exactness twin); the scale path
  *    is MinHash bands — constant fan-out per doc, exact band-slice
  *    bucket keys, no skew salting — with the true Jaccard recomputed on
  *    the candidates ([[ngramJaccardPairsBanded]]).
  *  - SimHash pair generation blocks on pigeonhole bit-bands of the
  *    fingerprint (hamming ≤ k ⇒ some band of bits/(k+1) bits matches
  *    exactly), so it is equi-join-shaped and EXACT ([[simhashPairs]]).
  */
object Dedup {

  /** Word k-grams in document order (with repeats) of a text column
    * tokenized as `split(text, " ")`: gram i is
    * `concat_ws(" ", slice(toks, i + 1, k))`, cut from the text in one
    * pass ([[graft.functions.WordNgrams]]). A text of fewer than k tokens
    * (`""` included) gives the empty array; a null text gives null. */
  def ngrams(text: Column, k: Int): Column =
    ColumnBridge.column(WordNgrams(ColumnBridge.expression(text), k, distinct = false))

  /** Word k-shingles (distinct, first-occurrence order) — the set view of
    * [[ngrams]], equal to `array_distinct(ngrams(text, k))`. */
  def shingles(text: Column, k: Int = 3): Column =
    ColumnBridge.column(WordNgrams(ColumnBridge.expression(text), k, distinct = true))

  /** Exact-duplicate groups by content hash: one row per distinct content,
    * keeper = min id. A single hash-shuffle; the canonical first pass. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Web-scale variant of [[ngramJaccardPairs]]: candidate pairs come from
    * banded MinHash (one bucket per hash function — `numHashes` single-row
    * bands), then the TRUE Jaccard is recomputed over the full
    * distinct-shingle sets with array_intersect, so reported similarities
    * are exact. Candidate cost is O(n · numHashes) bucket rows — constant
    * fan-out per doc — instead of the Σdf² of a shingle self-join, keyed by
    * the exact minhash value (no bucket skew). The only approximation is
    * candidate recall: a pair with true Jaccard j agrees on any one minhash
    * with probability j, so it is missed with probability (1−j)^numHashes —
    * ≤ 2⁻³² at j ≥ 0.5 with the default 32 hashes, far below the one-pair
    * scale of any corpus this runs on, which is why it shares the exact
    * operator's oracle. DedupSpec asserts equality with the uncapped
    * operator on the test corpus. */
  def ngramJaccardPairsBanded(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5, numHashes: Int = 32): DataFrame = {
    val sh = graft.store.CacheRegistry.cached(
      hashedShingleSets(df, idCol, textCol, k))
    bandedVerifiedPairs(sh, minhashSignatures(df, idCol, textCol, numHashes, k),
      threshold, numHashes)
  }

  /** [[ngramJaccardPairsBanded]] with a PRECOMPUTED signature table
    * (columns doc, h0..h{numHashes-1} — [[minhashSignatures]] output):
    * the build-once/serve-many split — one persisted signature layout
    * feeds both this exact-verify path and [[lshCandidatePairs]], so the
    * signature aggregation (the dominant build cost) runs once per
    * corpus, not once per consumer. */
  def ngramJaccardPairsBandedFromSig(df: DataFrame, sig: DataFrame,
      idCol: String, textCol: String, k: Int = 3, threshold: Double = 0.5,
      numHashes: Int = 32, skewSalt: Int = 1): DataFrame =
    bandedVerifiedPairs(
      graft.store.CacheRegistry.cached(hashedShingleSets(df, idCol, textCol, k)),
      sig, threshold, numHashes, skewSalt)

  /** (doc, shh): distinct 60-bit-hashed shingle sets. Widen the raw scan
    * FIRST: tokenize/shingle expressions are the dominant per-row cost and
    * must not run in a single pre-exchange map task over a one-file scan.
    * Shingles are 60-bit-hashed ONCE up front: the verification join then
    * shuffles long arrays instead of string arrays (~8x lighter) and
    * intersects integers. Collisions within a doc pair's ~10^2 shingles
    * are a 2^-60-scale event — the DuckDB value-equality gate would catch
    * one. */
  private def hashedShingleSets(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    Par.widen(df)
      .where(size(split(col(textCol), " ")) >= k)
      .select(col(idCol).as("doc"),
        array_distinct(transform(shingles(col(textCol), k), s => hash60(s))).as("shh"))

  /** Single-row-band candidates from `sig`, exact Jaccard recomputed over
    * the hashed shingle sets `sh`, thresholded. */
  private def bandedVerifiedPairs(sh: DataFrame, sig: DataFrame,
      threshold: Double, numHashes: Int, skewSalt: Int = 1): DataFrame =
    bandedCandidatePairs(sig, numHashes, bands = numHashes, skewSalt)
      .join(sh.select(col("doc").as("da"), col("shh").as("sha")), "da")
      .join(sh.select(col("doc").as("db"), col("shh").as("shb")), "db")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))

  /** Decontamination: training docs that share at least one distinct
    * k-gram with an evaluation corpus, with the overlap count — the
    * test-set-leakage check a training pipeline runs before every data
    * release.
    *
    * Scale shape: eval sets are small (10²–10⁵ docs) so their distinct
    * k-gram set is broadcast; the training corpus is scanned ONCE —
    * explode distinct k-grams, broadcast-hash-join, per-doc count with
    * map-side partial aggregation. The only shuffle is the final
    * per-doc agg over matching rows (≪ corpus). If the eval side ever
    * outgrows the broadcast limit, dropping the hint degrades to a
    * hash-shuffle join on the gram — same semantics. */
  def contaminatedDocs(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, k: Int = 4): DataFrame = {
    def grams(df: DataFrame) = Par.widen(df)
      .where(size(split(col(textCol), " ")) >= k)
      .select(col(idCol).as("doc"), explode(shingles(col(textCol), k)).as("sg"))
    grams(train)
      .join(broadcast(grams(eval).select(col("sg")).distinct()), "sg")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Fuzzy (MinHash) decontamination — the near-dup complement of
    * [[contaminatedDocs]]: flag training docs whose banded MinHash
    * signature collides with ANY eval doc's at an estimated Jaccard ≥
    * `threshold`. One row per flagged training doc:
    * `(doc, n_eval_matches, max_est_jaccard)`.
    *
    * What this catches that the exact path cannot: the exact detector
    * grams both sides at its k (word k-grams, k = 4 in the registered
    * pipeline) — an eval item SHORTER than k words produces no grams at
    * all and is invisible to it, yet short items (benchmark questions,
    * cloze answers) are exactly what leaks verbatim into crawled training
    * data. The MinHash path shingles at the smaller signature k (3) and
    * scores SET similarity, so short-item copies surface at est ≈ 1.0,
    * and paraphrases keep scoring by their true shingle overlap instead
    * of vanishing the moment no single k-run survives verbatim. (At
    * these widths the two detectors otherwise overlap heavily — any
    * ≥ k-word verbatim run trips the exact path; the fuzzy path's edge
    * grows with the exact path's k, which production decontamination
    * sets much higher. The complementarity cases are TrancheSpec-gated.)
    *
    * Scale shape — the eval set is the BOUNDED delta side of the
    * existing incremental-LSH join ([[lshIncrementalPairs]]): only the
    * eval docs pay fresh shingle/minhash cost, the corpus side is a SCAN
    * of the persisted signature layout (never rebuilt, never self-
    * joined — delta×corpus, not corpus²), the shuffle-hash build side is
    * the eval signatures, and the final per-doc aggregate runs over
    * ≪ corpus collision rows. `corpusSig` must not contain the eval
    * docs' own signatures (anti-join them out — a benchmark doc must not
    * flag itself). */
  def fuzzyContaminatedFromSig(evalDocs: DataFrame, corpusSig: DataFrame,
      idCol: String, textCol: String, k: Int = 3, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.5): DataFrame =
    lshIncrementalPairs(
        minhashSignatures(evalDocs, idCol, textCol, numHashes, k),
        corpusSig, numHashes, bands, threshold)
      .groupBy("dup_of")
      .agg(count(lit(1)).as("n_eval_matches"),
        max(col("est_jaccard")).as("max_est_jaccard"))
      .select(col("dup_of").as("doc"), col("n_eval_matches"),
        col("max_est_jaccard"))

  /** [[fuzzyContaminatedFromSig]] with the corpus signatures computed
    * in-line — the one-shot shape (specs, ad-hoc audits); production
    * serves from the persisted signature layout. */
  def fuzzyContaminated(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, k: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame =
    fuzzyContaminatedFromSig(eval,
      minhashSignatures(train, idCol, textCol, numHashes, k),
      idCol, textCol, k, numHashes, bands, threshold)

  /** Cross-document repeated n-gram spans — the memorization/span-dedup
    * audit (the signal behind substring-level training-data dedup): every
    * k-gram appearing in at least `minDocs` distinct documents, with its
    * document count and total occurrence count, most-shared first.
    *
    * Scale shape: one exploded gram pass (O(tokens)), a two-level
    * aggregate on the gram key (partial map-side combine; countDistinct
    * plans as the expand + two-phase agg), and a bounded
    * TakeOrderedAndProject for the top spans. The gram shuffle is the
    * intrinsic cost of the audit — it is the same single pass a
    * suffix-array build would also have to read, with none of its global
    * sort. A production budget raises k (longer spans → fewer grams) or
    * pre-hashes grams to 60-bit keys exactly like the Jaccard pipeline. */
  def repeatedNgrams(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2, topN: Int = 100): DataFrame =
    Par.widen(df)
      .where(size(split(col(textCol), " ")) >= k)
      .select(col(idCol).as("doc"), explode(ngrams(col(textCol), k)).as("gram"))
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc")).as("n_docs"), count(lit(1)).as("n_total"))
      .where(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("n_total").desc, col("gram").asc)
      .limit(topN)

  /** Per-document duplicated-span coverage — the APPLY step of exact
    * substring dedup ([[repeatedNgrams]] is the audit): a token position
    * counts as duplicated when any cross-document k-gram (one appearing in
    * ≥ `minDocs` distinct documents) covers it. One row per doc:
    * `(doc, n_tokens, dup_tokens, dup_frac)` — the per-doc statistic a
    * scrub/drop policy thresholds on.
    *
    * Scale shape: two passes over one exploded gram stream. (1) The
    * dup-gram set is a two-level aggregate on the gram key (map-side
    * partial combine). (2) Doc grams re-join that set with a shuffle-hash
    * join, both sides widened on the gram key — the dup-gram table grows
    * with the corpus, so it is never broadcast. Each hit expands to its k
    * covered positions (bounded k-row fan-out, not quadratic), and the
    * (doc, pos) distinct + per-doc count are one more keyed aggregate. No
    * suffix array: the gram shuffle is the same single pass the
    * suffix-array build would read, with none of its global sort. */
  /** Distinct (doc, pos) token positions covered by any cross-document
    * repeated k-gram — the shared stage of [[spanCoverage]] (the report)
    * and [[spanScrubbedText]] (the apply). */
  private def coveredPositions(base: DataFrame, k: Int, minDocs: Int): DataFrame = {
    val grams = base
      .where(size(split(col("text"), " ")) >= k)
      .select(col("doc"), posexplode(ngrams(col("text"), k)).as(Seq("p", "gram")))
    val dup = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc")).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("gram"))
    Par.widenBy(grams, col("gram"))
      .join(dup.hint("shuffle_hash"), "gram")
      .select(col("doc"), explode(sequence(col("p"), col("p") + (k - 1))).as("pos"))
      .distinct()
  }

  def spanCoverage(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    val base = Par.widen(df)
      .select(col(idCol).as("doc"), col(textCol).as("text"))
    val nTok = base.select(col("doc"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val covered = coveredPositions(base, k, minDocs)
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("dup_tokens"))
    // per-doc aggregates grow with the corpus: shuffle join, not broadcast
    nTok.join(covered.hint("shuffle_hash"), Seq("doc"), "left")
      .select(col("doc"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_frac",
        round(col("dup_tokens").cast("double") / col("n_tokens").cast("double"), 6))
  }

  /** The scrubbed-TEXT apply step of exact substring dedup: rebuilds each
    * doc with every token position covered by a cross-doc repeated k-gram
    * REMOVED — `(doc, scrubbed, kept_tokens)`, fully-covered docs come
    * back empty. The per-doc rebuild is a sorted-struct aggregation
    * (collect positions+tokens, array_sort on the position field,
    * concat) — one keyed aggregate, order restored deterministically
    * without a window; a doc must fit one aggregation buffer, the same
    * bound every per-doc text operator already has. */
  def spanScrubbedText(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    val base = Par.widen(df)
      .select(col(idCol).as("doc"), col(textCol).as("text"))
    val covered = coveredPositions(base, k, minDocs)
    val toks = base.select(col("doc"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    // the covered set and the per-doc rebuild both grow with the corpus:
    // shuffle joins, never broadcast
    val rebuilt = toks.join(covered.hint("shuffle_hash"), Seq("doc", "pos"), "left_anti")
      .groupBy(col("doc"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("scrubbed"),
        count(lit(1)).as("kept_tokens"))
    base.select(col("doc")).join(rebuilt.hint("shuffle_hash"), Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
  }

  /** Maximal duplicated-span INTERVALS at a minimum match length — the
    * suffix-array-grade exact-substring report (the published bar for
    * exact substring dedup: all matches of ≥ `minLen` tokens, merged to
    * maximal intervals). A position sits in an interval iff some
    * cross-document duplicated `minLen`-gram covers it, so every reported
    * interval is a union of genuine ≥`minLen`-token repeats and every
    * ≥`minLen`-token cross-doc repeat is reported — the same guarantee a
    * suffix-array pass gives at `minLen` granularity. Returns one row per
    * maximal interval: `(doc, start, len)`, token positions, len ≥
    * minLen.
    *
    * Scale shape — the no-global-sort property: duplicated window STARTS
    * come from the one exploded-gram shuffle [[spanCoverage]] already
    * uses (dup-gram set re-joined shuffle-hash, never broadcast); the
    * interval merge is PER-DOC — sorted starts folded left-to-right into
    * maximal runs (two starts chain iff they are ≤ minLen apart) inside
    * one keyed aggregate, the same per-doc-buffer bound every text
    * operator has. Nothing corpus-wide is ever sorted: a suffix array
    * sorts all corpus suffixes globally; this reads the identical gram
    * stream and keeps the ordering work inside each document. */
  def spanMaximalIntervals(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 16, minDocs: Int = 2): DataFrame = {
    val base = Par.widen(df)
      .select(col(idCol).as("doc"), col(textCol).as("text"))
    val grams = base
      .where(size(split(col("text"), " ")) >= minLen)
      .select(col("doc"), posexplode(ngrams(col("text"), minLen)).as(Seq("p", "gram")))
    val dup = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc")).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("gram"))
    // duplicated window starts; (doc, p) is unique by construction
    val wins = Par.widenBy(grams, col("gram"))
      .join(dup.hint("shuffle_hash"), "gram")
      .select(col("doc"), col("p"))
    // per-doc fold of the sorted starts into maximal [s, e) chains: start
    // p extends the open chain iff p ≤ chain.e (= previous start + L —
    // overlap or exact adjacency); the sentinel head (e < 0 < any p)
    // keeps the lambda total without an emptiness branch and is sliced
    // off after the fold
    val sentinel = struct(
      lit(-2 * minLen).as("s"), lit(-2 * minLen).as("e"))
    val folded = aggregate(
      array_sort(collect_list(col("p"))),
      array(sentinel),
      (acc, x) => {
        val last = element_at(acc, -1)
        when(last.getField("e") >= x,
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last.getField("s").as("s"), (x + minLen).as("e")))))
          .otherwise(
            concat(acc, array(struct(x.as("s"), (x + minLen).as("e")))))
      })
    wins.groupBy(col("doc"))
      .agg(slice(folded, lit(2), size(folded) - 1).as("ivs"))
      .select(col("doc"), explode(col("ivs")).as("iv"))
      .select(col("doc"),
        col("iv.s").cast("long").as("start"),
        (col("iv.e") - col("iv.s")).cast("long").as("len"))
  }

  /** Candidate pairs sharing at least one shingle, with exact Jaccard
    * similarity over distinct shingle sets. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5): DataFrame = {
    // Widen the raw scan first — see ngramJaccardPairsCapped.
    val sh = Par.widen(df)
      .where(size(split(col(textCol), " ")) >= k)
      .select(col(idCol).as("doc"), shingles(col(textCol), k).as("sh"))
    val sizes = sh.select(col("doc"), size(col("sh")).as("n"))
    // Widen on the join key BEFORE the pair join: the candidate fan-out is
    // Σ df(shingle)² — quadratic work that must not run at scan parallelism.
    val ex = Par.widenBy(
      sh.select(col("doc"), explode(col("sh")).as("sg")), col("sg"))
    // Both sides are co-partitioned by sg after the widen; shuffle-hash
    // reuses that exchange instead of collecting the exploded table to the
    // driver for a broadcast — which is also the only join shape that
    // exists once the corpus outgrows the broadcast threshold.
    val inter = ex.as("a").join(ex.hint("shuffle_hash").as("b"),
        col("a.sg") === col("b.sg") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("da"), col("b.doc").as("db"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "da").withColumnRenamed("n", "na"), "da")
      .join(sizes.withColumnRenamed("doc", "db").withColumnRenamed("n", "nb"), "db")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** 60-bit hash of a string: the high 60 bits of md5 over its UTF-8
    * bytes, i.e. `conv(substring(md5(s), 1, 15), 16, 10)` without the hex
    * round trip ([[graft.functions.Hash60]]; mirrored by the oracle as
    * ('0x' || substr(md5(s),1,15))::BIGINT). */
  def hash60(s: Column): Column =
    ColumnBridge.column(Hash60(ColumnBridge.expression(s)))

  /** Mersenne prime modulus for the minhash function family. */
  val MinhashP: Long = (1L << 31) - 1

  /** Deterministic coefficients for hash function j (values < 2^31 so
    * (a * (h mod p)) stays within 63 bits). */
  def minhashA(j: Int): Long = 2L * j + 3
  def minhashB(j: Int): Long = 7L * j + 1

  /** MinHash signature columns h0..h{n-1}: per-doc min over shingles of
    * h_j(s) = (a_j * (md5_60(s) mod p) + b_j) mod p — one md5 per shingle,
    * the rest integer arithmetic (universal-hash family, mirrored exactly
    * by the oracle SQL). Each row's signature comes from one pass over its
    * text ([[graft.functions.MinhashSignature]]); the per-doc min then
    * merges the rows of a repeated id, one signature row per input row. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, k: Int = 3): DataFrame = {
    // Widen the raw scan first — see hashedShingleSets.
    val sig = Par.widen(df)
      .where(size(split(col(textCol), " ")) >= k)
      .select(col(idCol).as("doc"), ColumnBridge.column(MinhashSignature(
        ColumnBridge.expression(col(textCol)), k, numHashes)).as("sig"))
    val hashCols = (0 until numHashes).map(j => min(col("sig")(j)).as(s"h$j"))
    sig.groupBy("doc").agg(hashCols.head, hashCols.tail: _*)
  }

  /** Band-exploded signature rows (doc, sig if `carrySig`, band, bh),
    * spread on the join keys: the candidate input of [[bandedCandidatePairs]],
    * [[lshCandidatePairs]] and [[lshIncrementalPairs]]. `sig` must carry
    * columns h0..h{numHashes-1}; each doc gets `bands` bucket rows. Band b's
    * key `bh` is its exact slice `array(h_{b·r}, …, h_{b·r+r−1})`: docs share
    * a bucket iff they agree on the whole band, and no digest is computed. */
  private def bandedExploded(sig: DataFrame, numHashes: Int, bands: Int,
      carrySig: Boolean): DataFrame = {
    val rpb = numHashes / bands
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    val hs = (0 until numHashes).map(j => col(s"h$j"))
    val bandCols = (0 until bands).map(b => array(hs.slice(b * rpb, (b + 1) * rpb): _*))
    val carry = if (carrySig) Seq(array(hs: _*).as("sig")) else Nil
    // Spread unconditionally: sig is post-shuffle (groupBy output), which AQE
    // would coalesce to one partition by bytes, serializing the band join.
    // Over a cached `sig` each self-join side runs this exchange on its own:
    // AQE reuses no exchange above a cached-table scan.
    Par.spread(
      sig.select(col("doc") +: carry :+
        posexplode(array(bandCols: _*)).as(Seq("band", "bh")): _*),
      col("band"), col("bh"))
  }

  /** Self-join of band-exploded rows on (band, bh) with doc < doc —
    * shuffle-hash, bucket-parallel, never a broadcast nested loop.
    *
    * `skewSalt` > 1 engages deterministic pair-join salting for corpora
    * with a HOT bucket (mass-duplicated docs → one (band, bh) value holds
    * m rows → m² pair work in one task). The probe side gets
    * `salt = hash(doc) mod S`; the build side is replicated across all S
    * salts; the join adds salt equality — every qualifying pair still
    * matches exactly once (the build replica carrying the probe row's
    * salt), but the per-task pair work drops S×. Cost: S× build-side
    * shuffle bytes and no self-join exchange reuse, which is why it is
    * opt-in: only mass-duplicated docs pile onto one band key. NOTE this
    * is OUR skew guard, not AQE's: the width-pinning repartitions
    * (REPARTITION_BY_NUM) that protect these quadratic stages from
    * byte-based coalescing also exempt them from AQE's skew-join
    * splitting, so skew handling must be explicit. */
  private def bandJoin(bl: DataFrame, skewSalt: Int = 1): DataFrame =
    saltedSelfJoin(bl, Seq("band", "bh"), "doc", skewSalt)

  /** The shared salted self-join core of every banded pair generator
    * ([[bandJoin]], [[simhashPairs]]): equi-join `bl` with itself on
    * `keys` with `docCol` ordering; `skewSalt` > 1 salts the probe side
    * by `hash(doc) mod S` and replicates the build side S ways with salt
    * equality as an extra key — every qualifying pair still matches
    * exactly once, per-task pair work drops ~S×. One definition so the
    * salting contract (hash choice, replication shape, width pinning)
    * cannot drift between the shapes that share it. */
  private def saltedSelfJoin(bl: DataFrame, keys: Seq[String],
      docCol: String, skewSalt: Int): DataFrame = {
    def eq(a: String, b: String) =
      keys.map(k => col(s"$a.$k") === col(s"$b.$k")).reduce(_ && _)
    if (skewSalt <= 1)
      bl.as("a").join(bl.hint("shuffle_hash").as("b"),
        eq("a", "b") && col(s"a.$docCol") < col(s"b.$docCol"))
    else {
      val probe = Par.spread(
        bl.withColumn("salt", pmod(hash(col(docCol)), lit(skewSalt))),
        (keys :+ "salt").map(col): _*)
      val build = bl.withColumn("salt",
        explode(array((0 until skewSalt).map(lit(_)): _*)))
      probe.as("a").join(build.hint("shuffle_hash").as("b"),
        eq("a", "b") && col("a.salt") === col("b.salt") &&
          col(s"a.$docCol") < col(s"b.$docCol"))
    }
  }

  /** Distinct candidate pairs sharing at least one signature band. */
  private[graft] def bandedCandidatePairs(sig: DataFrame, numHashes: Int,
      bands: Int, skewSalt: Int = 1): DataFrame =
    bandJoin(bandedExploded(sig, numHashes, bands, carrySig = false), skewSalt)
      .select(col("a.doc").as("da"), col("b.doc").as("db"))
      .distinct()

  /** LSH candidate pairs: docs sharing any band (the band's exact
    * signature slice), with estimated Jaccard = matching-hash fraction of
    * the two signatures.
    *
    * Each band row carries its doc's whole signature (one array of
    * numHashes longs) through the band join and `est_jaccard` is computed
    * in place, so the pair never re-joins back to `sig` — one join + one
    * distinct, instead of the join → distinct → two signature re-joins
    * shape (which the round-3 `graft.Bench` run measured at 3× the
    * round-2 time of this exact query). A (da, db) pair surfacing from several
    * bands yields identical (est) rows, so the distinct on the projected
    * output keeps pair semantics. */
  def lshCandidatePairs(sig: DataFrame, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, skewSalt: Int = 1): DataFrame =
    bandJoin(bandedExploded(sig, numHashes, bands, carrySig = true), skewSalt)
      .select(col("a.doc").as("da"), col("b.doc").as("db"),
        estJaccard(numHashes).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
      .distinct()

  /** Matching-hash fraction of the joined signatures `a.sig` and `b.sig`,
    * counted by one [[graft.functions.SignatureMatches]] loop (a term per
    * position would push the join stage's generated method past the JIT's
    * size limit), rounded to 6 places. */
  private def estJaccard(numHashes: Int): Column = round(ColumnBridge.column(SignatureMatches(
    ColumnBridge.expression(col("a.sig")), ColumnBridge.expression(col("b.sig"))))
    .cast("double") / lit(numHashes.toDouble), 6)

  /** Incremental LSH dedup — the daily-increment production shape: match a
    * DELTA batch's signatures against an existing corpus signature layout
    * without recomputing (or re-joining) the corpus. Returns
    * `(new_doc, dup_of, est_jaccard ≥ threshold)` candidate matches.
    *
    * Scale shape: only the delta pays the shingle/minhash cost (its
    * signature aggregation is upstream of this call); the corpus side is a
    * SCAN of the persisted signature layout — signatures are written once
    * per corpus and appended per increment, never rebuilt. The band join is
    * the same shuffle-hash (band, bh) equi-join as the self-join path, but
    * delta×corpus: per-bucket work is |delta_bucket|·|corpus_bucket|, not
    * quadratic in the corpus. The shuffle-hash BUILD side is the DELTA
    * (the bounded daily batch); the unbounded corpus side streams past it.
    *
    * `skewSalt` > 1 engages the same deterministic salting contract as
    * [[bandJoin]] for a HOT (band, bh) bucket (mass-duplicated corpus
    * docs): the corpus side gets `salt = hash(doc) mod S`, the delta side
    * replicates across all S salts, salt equality joins — needed because
    * the width-pinning REPARTITION_BY_NUM exchanges are exempt from AQE's
    * skew-join splitting.
    *
    * Self-pairs are excluded: if the delta overlaps the layout (a re-run
    * after its signatures were appended), a doc never reports itself as
    * its own duplicate. */
  def lshIncrementalPairs(deltaSig: DataFrame, corpusSig: DataFrame,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      skewSalt: Int = 1): DataFrame = {
    val dl0 = bandedExploded(deltaSig, numHashes, bands, carrySig = true)
    val cl0 = bandedExploded(corpusSig, numHashes, bands, carrySig = true)
    val (dl, cl, saltEq) =
      if (skewSalt <= 1) (dl0, cl0, lit(true))
      else {
        val d = dl0.withColumn("salt",
          explode(array((0 until skewSalt).map(lit(_)): _*)))
        val c = Par.spread(
          cl0.withColumn("salt", pmod(hash(col("doc")), lit(skewSalt))),
          col("band"), col("bh"), col("salt"))
        (d, c, col("a.salt") === col("b.salt"))
      }
    dl.hint("shuffle_hash").as("a").join(cl.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc") =!= col("b.doc") && saltEq)
      .select(col("a.doc").as("new_doc"), col("b.doc").as("dup_of"),
        estJaccard(numHashes).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
      .distinct()
  }

  /** 60-bit SimHash over distinct shingles: bit b is the sign of the sum of
    * ±1 votes from each shingle's hash bit b. One row per input row with
    * at least k tokens, from one pass over its text
    * ([[graft.functions.SimhashSignature]]); ids are expected unique, as
    * the pair stages key on them. */
  def simhash(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
      bits: Int = 60): DataFrame =
    // Widen the raw scan first — see ngramJaccardPairsCapped.
    Par.widen(df)
      .where(size(split(col(textCol), " ")) >= k)
      .select(col(idCol).as("doc"), ColumnBridge.column(SimhashSignature(
        ColumnBridge.expression(col(textCol)), k, bits)).as("simhash"))

  /** Near-dup pairs by SimHash hamming distance ≤ maxHamming — EXACT, via
    * pigeonhole banding: the fingerprint is split into maxHamming+1
    * contiguous bit bands, and any pair differing in ≤ maxHamming bits must
    * agree exactly on at least one band (maxHamming differing bits cannot
    * touch all maxHamming+1 bands), so a per-band equi-join over
    * (band, band_bits) generates a candidate superset and the exact
    * hamming filter makes the output identical to the all-pairs join —
    * with equi-join shapes (shuffle-hash, bucket-parallel) instead of an
    * O(n²/2) broadcast nested loop. Candidate volume per band is
    * Σ_bucket size² — worst-case skew is a popular band value, which for
    * natural corpora concentrates near-dup clusters (the pairs we want
    * anyway); a production budget tighter than 12/60 bits sharpens the
    * prune exponentially. */
  /** (doc, simhash, band, bv) pigeonhole band rows of a (doc, simhash)
    * frame — the shared banding of [[simhashPairs]] and
    * [[simhashIncrementalPairs]], so the two cannot drift. */
  private def simhashBandRows(sh: DataFrame, maxHamming: Int, bits: Int,
      carry: Seq[Column] = Nil): DataFrame = {
    val nBands = maxHamming + 1
    val widths = Array.tabulate(nBands)(b => bits / nBands + (if (b < bits % nBands) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val bandCols = (0 until nBands).map { b =>
      shiftrightunsigned(col("simhash"), starts(b)).bitwiseAND(lit((1L << widths(b)) - 1))
    }
    sh.select(col("doc") +: col("simhash") +: carry :+
      posexplode(array(bandCols: _*)).as(Seq("band", "bv")): _*)
  }

  /** Incremental pigeonhole pairs — the DELTA's fingerprints band-joined
    * against the corpus state (which must INCLUDE the delta, so old↔new
    * and new↔new pairs are both covered; union-over-deltas equals the
    * batch [[simhashPairs]] set because every pair is discovered at the
    * batch where its later endpoint arrives). Same completeness guarantee
    * (exact for Hamming ≤ maxHamming), same opt-in salting shape as
    * [[lshIncrementalPairs]]; per-batch cost is delta×corpus bucket rows,
    * never corpus². Returns normalized `(da, db, hamming)`. */
  def simhashIncrementalPairs(deltaSh: DataFrame, corpusSh: DataFrame,
      maxHamming: Int = 12, bits: Int = 60, skewSalt: Int = 1): DataFrame = {
    val dl0 = simhashBandRows(deltaSh, maxHamming, bits)
    // spread the corpus side ONCE, on the branch's actual join keys — a
    // spread-then-salt-then-respread would shuffle the corpus band rows
    // twice (the salt Project blocks CollapseRepartition)
    val cl0 = simhashBandRows(corpusSh, maxHamming, bits)
    val (dl, cl, saltEq) =
      if (skewSalt <= 1)
        (dl0, Par.spread(cl0, col("band"), col("bv")), lit(true))
      else {
        val d = dl0.withColumn("salt",
          explode(array((0 until skewSalt).map(lit(_)): _*)))
        val c = Par.spread(
          cl0.withColumn("salt", pmod(hash(col("doc")), lit(skewSalt))),
          col("band"), col("bv"), col("salt"))
        (d, c, col("a.salt") === col("b.salt"))
      }
    dl.hint("shuffle_hash").as("a").join(cl.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc") =!= col("b.doc") && saltEq)
      .select(least(col("a.doc"), col("b.doc")).as("da"),
        greatest(col("a.doc"), col("b.doc")).as("db"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long")
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  def simhashPairs(sh: DataFrame, maxHamming: Int = 12, bits: Int = 60,
      skewSalt: Int = 1): DataFrame = {
    // spread on the join keys: the band join would shuffle by them anyway,
    // and an explicit width keeps AQE from coalescing a small input to one
    // partition and serializing the band join.
    val bl = Par.spread(
      simhashBandRows(sh, maxHamming, bits),
      col("band"), col("bv"))
    // same opt-in salting as the MinHash band join — one shared
    // implementation ([[saltedSelfJoin]]): a mass-duplicated fingerprint
    // makes one (band, bv) bucket carry m²/2 indivisible pair work per
    // band, salt subdivides it S ways
    saltedSelfJoin(bl, Seq("band", "bv"), "doc", skewSalt)
      .select(col("a.doc").as("da"), col("b.doc").as("db"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("da"), col("db"), col("hamming"))
  }

  /** Perceptual-hash image near-dup pairs over RASTER payloads: dHash
    * every image with the real decode kernel
    * ([[graft.functions.MediaExpressions.dhash]] —
    * decode → grayscale → 9×8 difference hash), then find all pairs at
    * Hamming distance ≤ `maxHamming` with the SAME pigeonhole bit-band
    * join SimHash text dedup uses ([[simhashPairs]], bits = 64) — for
    * Hamming ≤ maxHamming over maxHamming+1 bands at least one band
    * matches exactly, so candidate generation is COMPLETE, not
    * approximate, and the exact Hamming filter makes the pair set
    * closed-form. Returns `(da, db, hamming)`. Candidate cost is
    * O(n · bands) bucket rows; `skewSalt` subdivides a mass-duplicated
    * image's bucket like every band join here. */
  def imageNearDupPairs(df: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3, skewSalt: Int = 1): DataFrame =
    simhashPairs(
      df.select(col(idCol).as("doc"),
        graft.functions.MediaExpressions.dhash(col(payloadCol)).as("simhash")),
      maxHamming, bits = 64, skewSalt = skewSalt)

  /** Audio near-dup pairs over PCM WAV payloads — the audio sibling of
    * [[imageNearDupPairs]]: fingerprint every clip with the real decode
    * kernel ([[graft.functions.MediaExpressions.audioFp]] — PCM decode →
    * 65-window integer energy envelope → 64 difference bits), then the
    * SAME complete Hamming-pigeonhole band join. Returns
    * `(da, db, hamming)`; same cost/salting contract as every band join
    * here. */
  def audioNearDupPairs(df: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3, skewSalt: Int = 1): DataFrame =
    simhashPairs(
      df.select(col(idCol).as("doc"),
        graft.functions.MediaExpressions.audioFp(col(payloadCol)).as("simhash")),
      maxHamming, bits = 64, skewSalt = skewSalt)

  /** Worst aligned-slot Hamming distance between two clip fingerprints —
    * the video near-dup dissimilarity, one codegen'd expression (≤ 4
    * XOR/popcounts). Shared by [[videoNearDupPairs]] and
    * [[videoIncrementalPairs]] so batch and streaming verify identically. */
  private def clipMaxHamming(fa: Column, fb: Column): Column =
    array_max(zip_with(fa, fb,
      (x, y) => bit_count(x.bitwiseXOR(y)))).cast("long")

  /** (doc, fps, slot-0 simhash) clip fingerprints of `(idCol, payloadCol)`
    * Y4M rows — the shared fingerprint projection of the video pair
    * generators. */
  private def clipFingerprints(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    df.select(col(idCol).as("doc"),
        graft.functions.MediaExpressions.videoFp(col(payloadCol)).as("fps"))
      .withColumn("simhash", element_at(col("fps"), 1))

  /** Video near-dup CLIP pairs over Y4M payloads — completing the
    * modality matrix beside [[imageNearDupPairs]] (dHash) and
    * [[audioNearDupPairs]] (energy envelope), with one structural
    * difference: a clip's key is the ALIGNED array of sampled-frame
    * dHashes ([[graft.multimodal.MediaCodec.videoFp]] — the frame-plan
    * sampling points), and two clips are near-dups iff they sampled the
    * SAME slot count and EVERY aligned frame pair is within `maxHamming`
    * bits (a clip sharing an opening frame but diverging later is NOT a
    * near-dup — folding the hashes into one word would lose exactly
    * that). Candidate generation pigeonhole-bands slot 0 only — still
    * COMPLETE: "every aligned slot ≤ maxHamming" implies slot 0 ≤
    * maxHamming, so every qualifying pair collides on at least one
    * slot-0 band — and the exact per-slot verify closes the set. Returns
    * `(da, db, max_hamming)` (the worst aligned slot). Cost: O(n·bands)
    * bucket rows like every band join here; `skewSalt` subdivides a
    * mass-duplicated clip's bucket identically. */
  def videoNearDupPairs(df: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3, skewSalt: Int = 1): DataFrame = {
    val bl = Par.spread(
      simhashBandRows(clipFingerprints(df, idCol, payloadCol),
        maxHamming, bits = 64, carry = Seq(col("fps"))),
      col("band"), col("bv"))
    saltedSelfJoin(bl, Seq("band", "bv"), "doc", skewSalt)
      .select(col("a.doc").as("da"), col("b.doc").as("db"),
        col("a.fps").as("fa"), col("b.fps").as("fb"))
      .distinct()
      .where(size(col("fa")) === size(col("fb")))
      .withColumn("max_hamming", clipMaxHamming(col("fa"), col("fb")))
      .where(col("max_hamming") <= maxHamming)
      .select(col("da"), col("db"), col("max_hamming"))
  }

  /** Incremental video pairs — the DELTA's clip fingerprints slot-0
    * band-joined against the corpus fingerprint state (which must
    * INCLUDE the delta; union-over-deltas equals the batch
    * [[videoNearDupPairs]] set because every pair is discovered at the
    * batch where its later endpoint arrives — the
    * [[simhashIncrementalPairs]] contract verbatim). Normalized
    * `(da, db, max_hamming)`. */
  def videoIncrementalPairs(deltaFp: DataFrame, corpusFp: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    val dl = simhashBandRows(deltaFp.withColumn("simhash",
      element_at(col("fps"), 1)), maxHamming, bits = 64, carry = Seq(col("fps")))
    val cl = Par.spread(
      simhashBandRows(corpusFp.withColumn("simhash",
        element_at(col("fps"), 1)), maxHamming, bits = 64,
        carry = Seq(col("fps"))),
      col("band"), col("bv"))
    dl.hint("shuffle_hash").as("a").join(cl.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc") =!= col("b.doc"))
      .select(least(col("a.doc"), col("b.doc")).as("da"),
        greatest(col("a.doc"), col("b.doc")).as("db"),
        col("a.fps").as("fa"), col("b.fps").as("fb"))
      .where(size(col("fa")) === size(col("fb")))
      .withColumn("max_hamming", clipMaxHamming(col("fa"), col("fb")))
      .where(col("max_hamming") <= maxHamming)
      .select(col("da"), col("db"), col("max_hamming"))
      .distinct()
  }

  /** Connected components over a near-dup pair list: every vertex labeled
    * with the MINIMUM id reachable through the pair graph — the canonical
    * keeper assignment a dedup pipeline needs after pair generation
    * (keep rows where id == component, drop the rest).
    *
    * Algorithm: alternating min-label PROPAGATION and edge CONTRACTION
    * (the star-contraction family the large-star/small-star MapReduce
    * algorithm belongs to). Each cycle (1) computes, for every current
    * super-vertex, the minimum over itself and its neighbors in the
    * CONTRACTED meta-edge list, (2) composes that relabeling into the
    * per-vertex labels, and (3) rewrites the meta-edges through the same
    * relabeling, dropping self-loops and duplicates. Groups merge into
    * their minimum neighbor every cycle, so the effective diameter at
    * least halves per cycle: convergence in O(log diameter) cycles over a
    * meta-graph that SHRINKS geometrically (most near-dup edges collapse
    * to self-loops within 1–2 cycles — later cycles run over tens of
    * rows whatever the corpus size).
    *
    * Why not plain propagation with pointer jumping (rounds 2–6 of this
    * engine's history): min-label pointers are their own fixed points —
    * label(v) names the smallest id v has SEEN, and that vertex almost
    * always still labels itself, so the "jump" label(label(v)) goes
    * nowhere and the global minimum crawls outward ONE edge hop per
    * round (O(eccentricity of the min vertex) rounds — measured 14 on
    * the sf0.1 semantic graph, diameter 15). Jumping only compounds when
    * ids happen to be ordered along paths (the chain fixture), which no
    * real id assignment guarantees. Contraction compounds REGARDLESS of
    * id placement because it rewrites the graph, not just the labels —
    * the same semantic graph converges in 3 cycles (15.8 s → 6.1 s for
    * `dd_semantic_ivf` at sf0.1), and DevCcChain's 2000-vertex chain in
    * ONE cycle (the closure below does the log-depth work).
    *
    * Deterministic: integer min over a fixed edge set; the fixed point
    * (min id of the component) is the same as exhaustive propagation.
    * `maxIter` bounds the cycle count; hitting it throws rather than
    * returning a partial labeling.
    *
    * PLAN growth: the meta-edge plan references the cycle relabeling
    * twice (both endpoints), so its logical plan would triple per cycle;
    * every [[TruncateEvery]] cycles the (tiny, shrinking) meta-edges are
    * flattened through scratch parquet — the checkpoint trick of
    * iterative graph algorithms, on the cluster-visible filesystem.
    * Per-vertex labels accumulate only ONE left join per cycle (a
    * O(log diameter)-deep plan) and materialize once, at the end. */
  private val TruncateEvery = 3

  /** Edge-count bound under which [[connectedComponents]] contracts ON
    * THE DRIVER (union-find over the collected edge list) instead of
    * running the iterative distributed loop. The label fixed point —
    * min reachable id per component — is a property of the GRAPH, not of
    * the algorithm, so the two paths return identical assignments; the
    * bound exists because the loop costs ~a dozen scheduler round-trips
    * with fresh codegen per cycle (measured 6–16 s on a 2k-vertex pair
    * graph — pure iteration overhead), while 1M edges are 16 MB of longs
    * a driver union-find resolves in milliseconds. Near-dup pair graphs
    * at this bound are routine at ANY corpus size (deltas, bounded
    * per-batch pair sets); past it the distributed contraction is the
    * only shape that survives, and the probe costs one count the loop
    * needed anyway. */
  private[graft] val DriverContractEdges = 1000000L

  /** Driver-side min-label contraction: union-find over `edges`, then
    * label every touched vertex with the minimum id in its component —
    * the same fixed point the distributed loop converges to. */
  private[graft] def localMinLabel(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val idx = new scala.collection.mutable.LongMap[Int](edges.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long](edges.length)
    val parent = new scala.collection.mutable.ArrayBuffer[Int](edges.length)
    def nodeOf(id: Long): Int =
      idx.getOrElseUpdate(id, { ids += id; parent += parent.length; ids.length - 1 })
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val p = parent(c); parent(c) = r; c = p }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(nodeOf(a)); val rb = find(nodeOf(b))
      if (ra != rb) parent(rb) = ra
    }
    // min id per root, then one label row per touched vertex
    val minOf = new scala.collection.mutable.LongMap[Long]()
    var i = 0
    while (i < ids.length) {
      val r = find(i).toLong
      val id = ids(i)
      minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), id)
      i += 1
    }
    Array.tabulate(ids.length)(i => (ids(i), minOf(find(i).toLong)))
  }

  def connectedComponents(vertices: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 30): DataFrame = {
    val spark = vertices.sparkSession
    val medges0 = pairs
      .select(col("da").cast("long").as("src"), col("db").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .cache()
    val edgeCount = medges0.count()
    if (edgeCount <= DriverContractEdges) {
      // bounded graph: contract locally (see [[DriverContractEdges]]) —
      // same fixed point, none of the loop's per-cycle scheduling
      val edges = medges0.collect().map(r => (r.getLong(0), r.getLong(1)))
      medges0.unpersist()
      val labelRows = localMinLabel(edges)
      import spark.implicits._
      val labelDf = labelRows.toSeq.toDF("doc", "component")
      vertices.select(col(idCol).cast("long").as("doc"))
        .join(labelDf, Seq("doc"), "left")
        .select(col("doc").as(idCol),
          coalesce(col("component"), col("doc")).as("component"))
    } else connectedComponentsDistributed(vertices, idCol, medges0, edgeCount, maxIter)
  }

  /** The iterative distributed contraction (see [[connectedComponents]]
    * scaladoc above for the algorithm); `medges0` is the cached non-self
    * edge list and `edgeCount` its count. Exposed private[graft] so the
    * equivalence spec can drive it below the driver gate. */
  private[graft] def connectedComponentsDistributed(vertices: DataFrame,
      idCol: String, medges0: DataFrame, edgeCount: Long,
      maxIter: Int = 30): DataFrame = {
    val spark = vertices.sparkSession
    lazy val ccScratch = graft.store.Fs.scratchDir(spark, "graft_cc")
    var truncatePaths: List[String] = Nil
    var medges = medges0
    // Touched-vertex labels: isolated vertices are their own component by
    // definition and never change — they join back at the end.
    var labels = medges.select(col("src").as("doc"))
      .union(medges.select(col("dst").as("doc")))
      .distinct()
      .select(col("doc"), col("doc").as("label"))
    var remaining = edgeCount
    var iter = 0
    // caches that later frames' LINEAGE still references (every cycle's
    // relabeling feeds the final labels plan); released after the final
    // materialization
    var lineageCaches: List[DataFrame] = List(medges)
    while (remaining > 0 && iter < maxIter) {
      // (1) min over self and meta-neighbors, per super-vertex
      var relabel = medges
        .union(medges.select(col("dst").as("src"), col("src").as("dst")))
        .groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("new_l"))
        .cache()
      lineageCaches ::= relabel
      // populate the cache with one cheap action BEFORE the closure's
      // self-join references the frame twice in one job — otherwise the
      // neighbor-min aggregation (the cycle's largest stage) can compute
      // twice while the cache is still cold
      relabel.count()
      // (1b) CLOSE the relabeling to idempotence by pointer doubling.
      // The map is functional and strictly descending (new_l ≤ src), so
      // it is a forest pointing at local minima; squaring doubles the
      // depth covered per pass and the loop runs ⌈log2(map depth)⌉
      // times. Without this, merges happen only at id-local-minima and a
      // path with ids ordered along it — the adversarial shape for any
      // min-based contraction, and exactly what monotone ingest ids
      // produce — contracts by ONE per cycle instead of collapsing
      // (measured: DevCcChain). Real near-dup maps are 1–2 deep, so this
      // costs one confirming pass; each pass is a self-join of the
      // SHRINKING group map, far smaller than the vertex set.
      // Each pass's plan references the previous pass's TWICE (the self-
      // join), so the doubling lineage is itself exponential in passes —
      // caching materializes data, not plans, and a deep closure (the
      // chain fixture needs ⌈log2 n⌉ passes) OOMs the driver in ANALYSIS
      // before an executor runs (measured: DevCcChain at n=2000). The
      // same parquet-flatten bound as the meta-edges, every
      // [[TruncateEvery]] passes and once more after a multi-pass
      // closure, keeps every downstream plan referencing a flat scan.
      var mapChanged = 1L
      var passes = 0
      while (mapChanged > 0) {
        val squared = relabel
          .join(relabel.select(col("src").as("y_s"), col("new_l").as("y_l")),
            col("new_l") === col("y_s"), "left")
          .select(col("src"), col("new_l").as("old_l"),
            least(col("new_l"), coalesce(col("y_l"), col("new_l"))).as("new_l"))
          .cache()
        lineageCaches ::= squared
        mapChanged = squared.where(col("new_l") =!= col("old_l")).count()
        relabel = squared.select(col("src"), col("new_l"))
        passes += 1
        if (mapChanged > 0 && passes % TruncateEvery == 0) {
          val p = s"$ccScratch/relabel-$iter-$passes"
          relabel.write.mode("overwrite").parquet(p)
          truncatePaths ::= p
          relabel = spark.read.parquet(p)
        }
      }
      if (passes > 1) {
        // flatten the closed map: the compose and contraction below each
        // reference it (labels once, meta-edges twice per cycle), and a
        // 2^passes-deep closure plan would multiply through both
        val p = s"$ccScratch/relabel-$iter-closed"
        relabel.write.mode("overwrite").parquet(p)
        truncatePaths ::= p
        relabel = spark.read.parquet(p)
      }
      // (2) compose into the per-vertex labels (left: groups with no
      // remaining meta-edges keep their label)
      labels = labels
        .join(relabel.select(col("src").as("l_s"), col("new_l")),
          col("label") === col("l_s"), "left")
        .select(col("doc"), coalesce(col("new_l"), col("label")).as("label"))
      // (3) rewrite the meta-edges through the relabeling (both endpoints
      // have meta-edges, so they appear in `relabel` — inner joins),
      // dropping resolved (self-loop) and duplicate edges
      val contracted = medges
        .join(relabel.select(col("src").as("a_s"), col("new_l").as("a_l")),
          col("src") === col("a_s"))
        .join(relabel.select(col("src").as("b_s"), col("new_l").as("b_l")),
          col("dst") === col("b_s"))
        .select(col("a_l").as("src"), col("b_l").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
      val next =
        if (iter % TruncateEvery == TruncateEvery - 1) {
          // lineage truncation cycle: flatten the (shrinking) meta-edge
          // plan through parquet — the files ARE the materialization
          val p = s"$ccScratch/medges-$iter"
          contracted.write.mode("overwrite").parquet(p)
          truncatePaths ::= p
          spark.read.parquet(p)
        } else contracted.cache()
      // ONE driver action per cycle: materializes the new meta-edges (and
      // the relabeling they pass through) and reads the remaining count
      remaining = next.count()
      if (iter % TruncateEvery != TruncateEvery - 1) lineageCaches ::= next
      medges = next
      iter += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        Console.err.println(
          s"CC_CYCLE iter=$iter remaining=$remaining t=${System.nanoTime() / 1e9}")
    }
    require(remaining == 0, s"connectedComponents did not converge in $maxIter cycles")
    // Materialize the fixed-point labels ONCE, through parquet: the
    // compose chain is O(cycles) joins deep over the per-cycle
    // relabelings, and backing the returned frame by a FLAT SCAN (not
    // that chain) means a cache eviction recomputes with one file read —
    // so every intermediate cache AND every truncation dir below is
    // safely deletable. The labels table is the touched-vertex set (one
    // row per vertex with ≥1 pair — the algorithm's output size), written
    // exactly once.
    val labelsPath = s"$ccScratch/labels-final"
    labels.write.mode("overwrite").parquet(labelsPath)
    lineageCaches.foreach(_.unpersist())
    // Truncation scratch is now all dead — no live lineage walks through
    // it. The labels-final dir must outlive the returned frame and is
    // left to the scratch-dir session contract
    // ([[graft.store.Fs.scratchDir]]): one touched-vertex label table per
    // CC invocation, not O(cycles) scratch tables.
    truncatePaths.foreach(graft.store.Fs.delete(spark, _))
    // The labels cache is adopted by the bounded CacheRegistry: its
    // lifetime ends on LRU eviction, not on the next call — so concurrent
    // invocations can't unpersist each other's still-unconsumed labels.
    labels = spark.read.parquet(labelsPath).cache()
    graft.store.CacheRegistry.register(labels)
    vertices.select(col(idCol).cast("long").as("doc"))
      .join(labels.withColumnRenamed("label", "component"), Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("component"), col("doc")).as("component"))
  }

  /** DELTA re-propagation over a prior component assignment — the
    * maintenance move for a persisted component layout when its pair
    * layout GROWS (a new crawl batch's near-dup pairs), so the layout is
    * refreshed without re-contracting the full historical pair set.
    *
    * The prior assignment is a fixed point of min-label propagation:
    * every component is a STAR (member → component-min edge). Union the
    * star edges with the fresh pairs and contract — the result equals a
    * fresh contraction over (old pairs ∪ new pairs) because a star edge
    * carries exactly the information the old pairs proved (reachability
    * to the component min), and min-label over the union re-derives the
    * merged minima. Cost: O(|prior touched| + |new pairs|) edges and the
    * few cycles the DELTA's diameter needs — independent of the
    * historical pair count. The same move the streaming semantic path
    * runs per micro-batch
    * ([[graft.streaming.StreamingIngest.semanticIngestBatch]]).
    *
    * `prior` rows labeled self (component minima, isolated vertices) add
    * no information and are dropped from the star; minima re-appear as
    * star endpoints of their members, and isolated vertices re-enter
    * only if a new pair touches them. Output covers TOUCHED vertices
    * only (the [[connectedComponents]] contract) — merge back over the
    * full id set with a coalesce-to-self, exactly like serving. */
  def incrementalComponents(prior: DataFrame, idCol: String,
      newPairs: DataFrame): DataFrame = {
    val star = prior
      .select(col(idCol).cast("long").as("da"),
        col("component").cast("long").as("db"))
      .where(col("da") =!= col("db"))
    val fresh = newPairs
      .select(col("da").cast("long").as("da"), col("db").cast("long").as("db"))
    val edges = star.union(fresh)
    val touched = edges.select(col("da").as(idCol))
      .union(edges.select(col("db").as(idCol)))
      .distinct()
    connectedComponents(touched, idCol, edges)
  }


  /** Embedding-cosine near-dup pairs within a blocking column (e.g. a
    * cluster/label id — at scale, an LSH or IVF bucket).
    *
    * The stream side is widened ROUND-ROBIN, not hashed by block: a
    * low-cardinality block column (10 labels here) hash-partitions into a
    * handful of skewed partitions. With the block side broadcast, every
    * stream partition probes independently — parallelism without skew. At
    * scale the block column is a high-cardinality bucket id and this join
    * becomes a co-partitioned shuffle join on it instead. */
  /** IVF-bucketed embedding near-dup pairs — the SELF-BLOCKING scale twin
    * of [[embeddingNearDupPairs]] for corpora with no usable block column:
    * the blocking key is learned (k-means clusters over the embeddings
    * themselves), each row probes its `nProbes` nearest clusters (so
    * near-dups straddling a cluster boundary still meet — the exact
    * failure mode single-assignment blocking has), and candidates join
    * co-partitioned on cluster_id with the exact cosine threshold applied
    * in place. Candidate volume is Σ_c |probers(c)|·|members(c)| instead
    * of n² — the [[graft.index.Ivf.knnJoin]] shape with a threshold
    * filter instead of a top-k, sharing its codegen'd probe/assign
    * kernels. Approximate in RECALL only (a pair probing disjoint
    * clusters is missed; reported sims are exact cosines) → spec-gated
    * against the blocked-exact operator like every IVF path. */
  def embeddingNearDupPairsBucketed(df: DataFrame, model: graft.index.Ivf.IvfModel,
      idCol: String, vecCol: String, threshold: Double,
      nProbes: Int = 2): DataFrame = {
    val probed = Par.widen(df)
      .select(col(idCol).as("da"), col(vecCol).cast("array<double>").as("va"),
        explode(graft.functions.ModelExpressions.probeClusters(col(vecCol),
          model.centroids, graft.functions.ProbeStop.nearest(nProbes))).as("cluster_id"))
    val members = graft.index.Ivf.assign(df, model, vecCol)
      .select(col(idCol).as("db"), col(vecCol).cast("array<double>").as("vb"),
        col("cluster_id"))
    probed.join(members.hint("shuffle_hash"), Seq("cluster_id"))
      // keep BOTH orientations and canonicalize afterward: a pair can
      // surface only as (high-id probes low-id's cluster) when the
      // reverse probe list misses — filtering da < db here would throw
      // away candidates the join already paid for
      .where(col("da") =!= col("db"))
      .withColumn("sim_raw",
        graft.GraftExtensions.cosineSim(col("va"), col("vb")))
      .where(col("sim_raw") >= threshold)
      // canonical orientation + one row per pair (several probed
      // clusters / both orientations collapse here)
      .select(least(col("da"), col("db")).as("da"),
        greatest(col("da"), col("db")).as("db"),
        round(col("sim_raw"), 6).as("sim"))
      .distinct()
  }

  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, dim: Int, threshold: Double,
      broadcastBuild: Boolean = true): DataFrame = {
    val wide = Par.widen(df)
    // broadcastBuild = false for tables past the broadcast/driver limit:
    // falls back to the planner's shuffle join on the block column (the
    // co-partitioned shape a high-cardinality bucket id gives at scale).
    val build = if (broadcastBuild) broadcast(df) else df
    wide.as("a").join(build.as("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("sim_raw",
        graft.GraftExtensions.cosineSim(col(s"a.$vecCol"), col(s"b.$vecCol")))
      .where(col("sim_raw") >= threshold)
      .select(col(s"a.$idCol").as("da"), col(s"b.$idCol").as("db"),
        col(s"a.$blockCol").as("block"), round(col("sim_raw"), 6).as("sim"))
  }
}
