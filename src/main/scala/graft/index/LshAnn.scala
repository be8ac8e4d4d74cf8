package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.search.VectorSearch

/** Random-hyperplane (sign) LSH for cosine ANN — the bucketed scale path
  * complementing [[Ivf]]: no training pass at all, buckets are pure
  * expressions over the vector, so ingest-time bucketing costs one narrow
  * projection and the bucket column can partition the storage layout
  * exactly like the IVF cluster id (probe → partition pruning).
  *
  * Hyperplanes are derived from a seed via a splitmix64-style integer mix —
  * deterministic closed form, identical on any executor, nothing to
  * broadcast but the seed.
  *
  * Single-table search probes the query's bucket plus all buckets within
  * Hamming `radius` (default [[DefaultProbeRadius]]). The production
  * serving paths are the multi-table centered layouts below: every serve
  * there takes one [[ProbeRule]], resolved by the one query-directed
  * multi-probe walk ([[graft.functions.LshProbeKernel]], Multi-Probe LSH
  * after Lv et al., VLDB 2007) on the driver or per query row. Recall
  * AND scanned fraction are gated in ScalaTest like the other
  * approximate operators.
  */
object LshAnn {

  /** Single-table probe-ring radius DEFAULT — a pinned contract, not a
    * tuning knob: every defaulted signature references it, and moving it
    * silently changes implicit callers' scan cost (radius 2 is about 2×
    * radius 1) or recall. LshLifecycleSpec pins the value and its
    * measured operating point (radius 1: recall 0.50 at 0.33 scanned;
    * radius 2: 0.775 at 0.68 — 4 bits, embeddings corpus, DevLshBase).
    * Callers who want the ≥0.7-recall single-table point pass
    * `radius = 2` explicitly; production budgets use the multi-table
    * [[ProbeRule]]s. */
  val DefaultProbeRadius: Int = 1

  /** splitmix64 mix of (seed, plane, dim) → uniform double in [-1, 1). */
  private def mixedUnit(seed: Long, plane: Int, d: Int): Double = {
    var z = seed + 0x9e3779b97f4a7c15L * (plane.toLong * 131071L + d.toLong + 1L)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  def hyperplanes(numBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] =
    Array.tabulate(numBits)(p => Array.tabulate(dim)(d => mixedUnit(seed, p, d)))

  /** Bucket id column: bit b set iff vec · plane_b > 0. Uses the custom
    * loop-codegen'd cosine expression rather than an unrolled per-dim sum:
    * the sign of cosine equals the sign of the dot (norms are positive,
    * zero-norm guard yields 0 → bit unset, same as dot = 0), and the
    * unrolled form at numBits × dim = 4 × 64 blew past janino's method
    * limit — the whole stage then fell back to INTERPRETED eval, the
    * silent codegen failure mode PLANS.md exists to catch. */
  def bucketCol(vecCol: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, b) =>
      when(graft.GraftExtensions.cosineSim(vecCol, array(p.map(lit).toSeq: _*)) > 0.0,
        lit(1 << b)).otherwise(lit(0))
    }.reduceLeft[Column](_ + _)

  def withBuckets(df: DataFrame, vecCol: String, planes: Array[Array[Double]]): DataFrame =
    df.withColumn("lsh_bucket", bucketCol(col(vecCol), planes))

  /** Query-side probe set: own bucket + every flip neighborhood up to
    * Hamming `radius` (own, then 1-flips, then 2-flips). The DEFAULT is
    * radius 1 — at the table's few bits, radius 2 probes most of the
    * bucket space (11/16 at 4 bits, ~68% of this corpus scanned), and a
    * default that costly would silently multiply existing callers' scan
    * budgets. Radius 2 is the single-table ≥0.7-recall operating point
    * (Hamming-1 leaves double sign-flips near two hyperplanes
    * unrecovered — measured 0.50 vs 0.775 on the embeddings corpus) and
    * the recall-gated callers (RecallSpec, RecallBench) pass it
    * explicitly; production budgets use the multi-table adaptive walk
    * instead. */
  def probeBuckets(query: Seq[Double], planes: Array[Array[Double]],
      radius: Int = DefaultProbeRadius): Seq[Int] = {
    require(radius >= 1 && radius <= 2,
      s"single-table probe radius is 1 or 2 (closed-form rings), got $radius")
    val bits = planes.length
    val qb = planes.zipWithIndex.map { case (p, b) =>
      val dot = p.toSeq.zip(query).map { case (x, y) => x * y }.sum
      if (dot > 0.0) 1 << b else 0
    }.sum
    val h1 = planes.indices.map(b => qb ^ (1 << b))
    val h2 = for { a <- 0 until bits; b <- a + 1 until bits }
      yield qb ^ (1 << a) ^ (1 << b)
    if (radius == 1) qb +: h1 else (qb +: h1) ++ h2
  }

  /** Approximate top-k: probe buckets, exact search within. Default
    * radius 1 — see [[probeBuckets]] for why the recall operating point
    * (radius 2) is opt-in rather than the default. */
  def search(bucketed: DataFrame, planes: Array[Array[Double]], query: Seq[Double],
      topK: Int, vecCol: String = "vector", idCol: String = "id",
      radius: Int = DefaultProbeRadius): DataFrame = {
    val probes = probeBuckets(query, planes, radius)
    val pruned = bucketed.where(col("lsh_bucket").isin(probes: _*))
    VectorSearch.bruteForceTopK(pruned, query, topK, None, vecCol, idCol)
  }

  // ---- multi-table centered LSH: the real operating point ------------------
  //
  // Two compounding fixes over the single table above:
  //
  //  1. CENTERED bits. Raw corpora often concentrate in a cone (these
  //     embeddings live in the positive orthant), where origin hyperplanes
  //     put nearly everyone on the same side: bits come out imbalanced,
  //     buckets are huge, and bit agreement says little about similarity.
  //     Hashing v − μ (μ = corpus mean, ONE aggregate pass — a statistic,
  //     not a training loop) balances every bit: random-pair agreement
  //     drops to ~0.5 while near-neighbor agreement stays high, which is
  //     the whole discriminative gap. Implemented without materializing
  //     centered vectors: sign((v−μ)·p) = (v·p > μ·p), i.e. the same
  //     planes with a per-bit BIAS.
  //  2. L INDEPENDENT tables + Hamming-radius multi-probe. A neighbor is a
  //     candidate if ANY table catches it (miss probability compounds as
  //     missᴸ) while candidate unions overlap, so the scanned fraction
  //     grows sub-additively; probing the flip neighborhood recovers
  //     near-hyperplane sign flips without more tables.
  //
  // RecallSpec gates the operating point (recall AND scanned fraction);
  // the H2 harness publishes both.

  /** Multi-table LSH model: per-table hyperplanes + per-bit biases.
    * `biases = 0` is the uncentered special case. Derivable from a seed +
    * one mean vector — nothing to broadcast but ~L·bits doubles. */
  final case class LshTables(planes: Array[Array[Array[Double]]],
      biases: Array[Array[Double]],
      groupShift: Int = BucketGroupShift) {
    def numTables: Int = planes.length
    def numBits: Int = planes.head.length
  }

  /** Corpus mean vector — the centering statistic, one aggregate pass.
    * (Exact; the layout paths use [[sampleMeanVector]] instead — a full
    * scan per build/maintenance tick doesn't survive 100 TB, and a
    * bounded-sample mean is statistically indistinguishable for
    * centering. Empty input centers at the origin.) */
  def meanVector(df: DataFrame, vecCol: String, dim: Int): Array[Double] = {
    val row = df.select(
      (0 until dim).map(i => avg(element_at(col(vecCol), i + 1).cast("double"))): _*).head
    Array.tabulate(dim)(i => if (row.isNullAt(i)) 0.0 else row.getDouble(i))
  }

  /** Rows bounding the centering sample. A mean over 100k rows has
    * standard error ~σ/316 per component — far below what moves a sign
    * bit — while keeping the statistic pass O(sample), not O(corpus). */
  val MeanSampleRows = 100000

  /** Centering statistic on a bounded deterministic sample — the
    * [[Ivf.FitSampleRows]] pattern: rows get a pseudo-random priority
    * (xxhash64 of the id — a pure function of the id, so the sample and
    * therefore the model are independent of partitioning and executor
    * count) and the ≤ [[MeanSampleRows]] smallest are averaged
    * driver-side. orderBy+limit plans as TakeOrderedAndProject (bounded
    * per-partition heap, no full sort). Below the cap this is the exact
    * mean up to summation order. */
  private[graft] def sampleMeanVector(df: DataFrame, vecCol: String,
      idCol: String, dim: Int): Array[Double] = {
    val rows = df
      .orderBy(xxhash64(col(idCol)))
      .limit(MeanSampleRows)
      .select(col(vecCol).cast("array<double>"))
      .collect()
    val c = new Array[Double](dim)
    if (rows.isEmpty) return c
    // per-component counts: null vectors are skipped and short vectors
    // contribute only the components they have — the avg() semantics of
    // the column-aggregate meanVector this sampler replaced, so a corpus
    // with a stray null row still builds instead of NPE-ing the driver
    val counts = new Array[Long](dim)
    rows.foreach { r =>
      if (!r.isNullAt(0)) {
        val v = r.getSeq[Double](0)
        val n = math.min(dim, v.length)
        var i = 0
        while (i < n) { c(i) += v(i); counts(i) += 1; i += 1 }
      }
    }
    var i = 0
    while (i < dim) { if (counts(i) > 0) c(i) /= counts(i); i += 1 }
    c
  }

  /** L independent hyperplane tables — table t's planes are globally
    * indexed (t·numBits + p), so the same splitmix64 derivation yields
    * uncorrelated tables from one seed. Centered on `center` (pass the
    * [[meanVector]]; `Array.empty` for uncentered). */
  /** Hard cap on per-table bucket width: the probe walk enumerates flip
    * masks over the 2^numBits space, so an oversized configuration
    * must fail loudly at build time instead of silently allocating and
    * sorting millions of masks per query. 20 bits = 1M buckets/table is
    * already far past any useful sign-LSH operating point. */
  val MaxBits = 20

  def tables(numTables: Int, numBits: Int, dim: Int,
      center: Array[Double], seed: Long = 42L): LshTables = {
    require(numBits <= MaxBits,
      s"numBits=$numBits exceeds MaxBits=$MaxBits — probe-set enumeration is 2^numBits driver-side")
    val planes = Array.tabulate(numTables)(t =>
      Array.tabulate(numBits)(p =>
        Array.tabulate(dim)(d => mixedUnit(seed, t * numBits + p, d))))
    val biases = planes.map(_.map(p =>
      if (center.isEmpty) 0.0
      else {
        var s = 0.0; var i = 0
        while (i < p.length) { s += p(i) * center(i); i += 1 }
        s
      }))
    LshTables(planes, biases)
  }

  /** One bucket column per table (`lsh_b0` … `lsh_b{L-1}`) — ingest-time
    * cost is L narrow projections over the same scan. Bit b of table t is
    * `v·p > bias` via the loop-codegen'd dot expression (the unrolled
    * per-dim sum blows janino's method limit at these widths — the
    * [[bucketCol]] lesson). */
  def withTableBuckets(df: DataFrame, vecCol: String, model: LshTables): DataFrame =
    model.planes.zipWithIndex.foldLeft(df) { case (acc, (planes, t)) =>
      val bucket = planes.zipWithIndex.map { case (p, b) =>
        when(graft.GraftExtensions.dotProduct(col(vecCol),
          array(p.map(lit).toSeq: _*)) > model.biases(t)(b), lit(1 << b))
          .otherwise(lit(0))
      }.reduceLeft[Column](_ + _)
      acc.withColumn(s"lsh_b$t", bucket)
    }

  /** Flip-count bound of the probe walk: a neighbor lands in a different
    * bucket when bits whose hyperplane the query sits CLOSE to flip sign,
    * so each table ranks every ≤`MaxFlips`-bit flip mask of the query's
    * bucket by the summed |margin| of its flipped bits (a tiny-margin
    * triple flip is likelier than a wide-margin double) — strictly more
    * near-neighbors than blind Hamming-radius probing at the same scanned
    * budget. */
  private[graft] val MaxFlips = 4

  /** Which buckets a serve probes for one query. Every multi-table serve
    * takes one rule, and each rule resolves through the one walk,
    * [[graft.functions.LshProbeKernel]]: per table, the cost-ranked stream
    * of flip masks (cost-0 head = the query's own bucket); across tables,
    * one merged ascending-cost walk. The collected serves run it on the
    * driver, [[bigBatchSearchStored]] per query row in codegen, so every
    * serve probes the same sets under the same rule. */
  sealed trait ProbeRule {
    /** The walk resolving this rule at top-`k`. */
    private[graft] final def kernel(model: LshTables, k: Int)
        : graft.functions.LshProbeKernel = this match {
      case Directed(probes) =>
        new graft.functions.LshProbeKernel(model.planes, model.biases,
          Array.empty, Long.MaxValue, probes, MaxFlips)
      case Adaptive(sizes, overscan) =>
        new graft.functions.LshProbeKernel(model.planes, model.biases,
          sizes, overscan.toLong * k, DefaultProbes, MaxFlips)
    }
  }

  /** The `probes` cheapest buckets of each table's margin-ranked stream. */
  final case class Directed(probes: Int) extends ProbeRule {
    require(probes >= 1, s"a directed rule probes at least one bucket per table, got $probes")
  }

  /** The merged walk that stops once the probed buckets hold
    * `overscan · k` rows (`sizes` = [[bucketSizes]], memoized beside the
    * layout), with at most [[DefaultProbes]] probes per table — the
    * sign-LSH analog of [[Ivf.Adaptive]]. Dense
    * queries, whose low-cost flips land on full buckets, stop after a few
    * probes; sparse ones keep flipping, so the scanned volume tracks what
    * the re-rank needs per query instead of a worst-case constant. Every
    * table always probes its own bucket, and the walk is inclusive (it may
    * pass the budget by one bucket). */
  final case class Adaptive(sizes: Array[Array[Long]],
      overscan: Int = DefaultOverscan) extends ProbeRule

  /** Per-table probe sets of `query` under `rule` at top-`k`. */
  private[graft] def probeSets(model: LshTables, rule: ProbeRule,
      query: Seq[Double], k: Int): IndexedSeq[Seq[Int]] =
    perTable(model, rule.kernel(model, k).probeSets(query.toArray))

  /** Unpacks the kernel's `(table << PackShift) | bucket` probes into one
    * bucket list per table. */
  private def perTable(model: LshTables, packed: Array[Int]): IndexedSeq[Seq[Int]] = {
    val out = Array.fill(model.numTables)(Vector.newBuilder[Int])
    val mask = (1 << graft.functions.LshProbeKernel.PackShift) - 1
    packed.foreach(p =>
      out(p >>> graft.functions.LshProbeKernel.PackShift) += p & mask)
    out.map(_.result()).toIndexedSeq
  }

  /** Per-(table, bucket) row counts of a stored layout — the [[Adaptive]]
    * walk's mass statistic, dense per table up to the largest bucket
    * present (the walk reads 0 past it). From one count-pushdown
    * aggregate over the layout (parquet row-group counts, no data columns
    * read); memoize beside the layout like the IVF cluster sizes. */
  def bucketSizes(layout: DataFrame): Array[Array[Long]] = {
    val counts = layout.groupBy(col(TableCol), col(BucketCol)).count().collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val tables = if (counts.isEmpty) 0 else counts.map(_._1).max + 1
    val width = if (counts.isEmpty) 0 else counts.map(_._2).max + 1
    val sizes = Array.fill(tables)(new Array[Long](width))
    counts.foreach { case (t, b, n) => sizes(t)(b) = n }
    sizes
  }

  /** Union-of-tables candidate predicate: bucket-of-table-t ∈ probes-of-
    * table-t for ANY t. A disjunction of integer `isin`s over precomputed
    * columns — codegen'd comparisons, no similarity math until the exact
    * re-rank inside the candidate set. */
  private def candidateFilter(sets: IndexedSeq[Seq[Int]]): Column =
    sets.indices.map { t =>
      col(s"lsh_b$t").isin(sets(t): _*)
    }.reduceLeft(_ || _)

  /** Default operating point — MEASURED on the DevLshTune grid (isotropic
    * unit embeddings, the hardest case: no cluster structure to exploit):
    * 4 tables × 10 bits at 96 directed probes/table lands recall ≈ 0.78–0.8
    * scanning ≈ 0.35 of the data at both test SFs; blind Hamming-2 probing
    * at the same budget managed only ≈ 0.64. RecallSpec gates recall ≥ 0.7
    * AND scanned ≤ 0.4; the H2 harness publishes both. [[DefaultProbes]]
    * is also the [[Adaptive]] walk's per-table cap. */
  val DefaultTables = 4
  val DefaultBits = 10
  val DefaultProbes = 96

  /** Adaptive serving's candidate-mass factor: the probe walk stops at
    * overscan·k candidate rows. Calibrated on the DevLshTune adaptive
    * grid at the SERVING regime (k=20, sf0.1 — RECALL.md round 9):
    * recall@20 0.718 at mean scanned 0.298 / 77 probes per table, vs
    * `Directed(DefaultProbes)`'s 0.793 at 0.352 — the recall gate
    * (≥ 0.7) held at 15% less data scanned, with per-query spread (27–96
    * probes) instead of a worst-case constant. The grids show recall is
    * driven by candidate MASS, not k: the k=10 and k=20 curves coincide
    * at equal mass, so the overscan·k anchor is calibrated per serving-k
    * regime (the [[HnswStore.Adaptive]] margin walk's caller-derived-
    * constant precedent). On a corpus so small the ≤4-flip neighborhood
    * can't reach the mass target, the walk degenerates to the fixed
    * budget — adaptivity only ever SHRINKS the probe list. */
  val DefaultOverscan = 35

  /** Approximate top-k over L tables: union of the buckets `rule` probes,
    * exact re-rank. */
  def searchMulti(bucketed: DataFrame, model: LshTables,
      query: Seq[Double], topK: Int, rule: ProbeRule = Directed(DefaultProbes),
      vecCol: String = "vector", idCol: String = "id"): DataFrame =
    VectorSearch.bruteForceTopK(
      bucketed.where(candidateFilter(probeSets(model, rule, query, topK))),
      query, topK, None, vecCol, idCol)

  // ---- persisted inverted-list layout: build once, serve bucket-pruned ----
  //
  // The serving shape that survives 100 TB: each table's buckets become an
  // INVERTED LIST on storage, dir-partitioned by (lsh_table, lsh_bucket),
  // so the query-time candidate predicate ("bucket-of-table-t ∈
  // probes-of-table-t for ANY t") is a pure partition-column expression and
  // Spark prunes every unprobed bucket's FILES at planning time
  // (PartitionFilters, the same mechanism as the routed-HNSW layout).
  // Without this, serving re-evaluates L·bits dot products over the whole
  // corpus per query — a full scan regardless of the candidate fraction.
  //
  // The PAYLOAD (vector) is stored ONCE, in table 0 — the reference's
  // inverted lists store row INDICES, not rows
  // (vervectordb/__init__.py:420-424), and this layout is that shape on
  // storage: tables ≥ 1 hold (id, home-bucket) pointer rows only, where
  // `home` is the row's TABLE-0 bucket — the "row index" that names the
  // exact payload partition to fetch from. Serving scans the probed dirs of
  // every table NARROWLY (id + home ints, no vector bytes), then fetches
  // every candidate's vector once with one broadcast join against the
  // home-bucket-pruned table-0 dirs (dynamic partition pruning off the
  // pointer broadcast — no driver-side home collect). Layout bytes are ~1× corpus
  // + (L−1)·12 bytes/row instead of the L× full replication this replaced;
  // the build shuffles one corpus copy plus narrow pointer rows. The model
  // itself re-derives from (seed, mean) persisted in a tiny text sidecar.

  val TableCol = "lsh_table"
  val BucketCol = "lsh_bucket"
  /** Pointer-row column: the row's table-0 bucket (payload partition). */
  val HomeCol = "lsh_home"
  /** Partition-dir column: the bucket's GROUP (bucket >> [[BucketGroupShift]]).
    * Storage partitions on (table, group) — 4× fewer dirs than per-bucket
    * partitioning — while the EXACT bucket stays a data column, sorted
    * within each file so parquet row-group stats prune it (PushedFilters).
    * Dynamic-partition dir/file creation and dir listing are the dominant
    * build costs of a many-dir layout (measured ~6.5 s write + ~4.4 s
    * list at ~2.5k dirs vs ~8 s total build); dir count must stay bounded
    * as bits grow with corpus size, so fine-grained pruning belongs to
    * row groups, not directories — the lakehouse layout rule. */
  val GroupCol = "lsh_bgroup"

  /** FLOOR of the bucket-group shift (and the fixed value of legacy
    * layouts): at full corpus width, storage partitions on
    * 2^(bits−[[BucketGroupShift]]) groups per table — the measured
    * operating point balancing dir-level pruning against dir-count
    * build/list cost. */
  val BucketGroupShift = 2

  /** Rows-per-(table, group)-dir target of the DERIVED shift: below it,
    * dynamic-partition dir/file creation and dir listing dominate the
    * build (measured 7.3 s write + 2.5 s list for ~1k dirs holding two
    * rows each at sf0.1), so small corpora coarsen the grouping — exact
    * buckets stay a sorted data column and row-group stats keep the
    * fine-grained pruning — while large corpora converge to the
    * [[BucketGroupShift]] floor unchanged. The shift is recorded in the
    * layout sidecar; results are grouping-independent (the candidate
    * predicate is on exact buckets). */
  val GroupDirTargetRows = 4096L

  /** Sentinel for `groupShift`: derive from the corpus size at build
    * time ([[derivedGroupShift]]); pass an explicit shift to pin the
    * granularity (spec fixtures asserting dir-level behavior pin the
    * [[BucketGroupShift]] floor). */
  val DeriveGroupShift = -1

  /** The derived policy: enough group dirs per table that each holds
    * ~[[GroupDirTargetRows]] rows, rounded down to a power of two, never
    * finer than the [[BucketGroupShift]] floor allows. */
  private[graft] def derivedGroupShift(n: Long, numBits: Int): Int = {
    val maxDirs = 1L << math.max(0, numBits - BucketGroupShift)
    val want = math.max(1L, math.min(maxDirs, n / GroupDirTargetRows))
    val log2 = 63 - java.lang.Long.numberOfLeadingZeros(want)
    math.max(BucketGroupShift, numBits - log2)
  }

  private def groupOf(bucket: Int, shift: Int): Int = bucket >>> shift
  private val SidecarFile = "_graft_lsh"

  /** Build + persist the inverted-list layout at `path` and the model
    * sidecar beside it; returns the model. One bounded-sample pass
    * computes the centering statistic ([[sampleMeanVector]]), one full
    * pass buckets and writes — the entire serve-time construction cost
    * moves here, amortized over every query. */
  def saveBucketed(df: DataFrame, vecCol: String, idCol: String, path: String,
      dim: Int, numTables: Int = DefaultTables, numBits: Int = DefaultBits,
      seed: Long = 42L, groupShift: Int = DeriveGroupShift): LshTables = {
    val center = sampleMeanVector(df, vecCol, idCol, dim)
    // dir granularity from the corpus size (one bounded count job —
    // the HnswStore.derivedShards pattern): see [[derivedGroupShift]]
    val shift =
      if (groupShift == DeriveGroupShift) derivedGroupShift(df.count(), numBits)
      else groupShift
    val model = tables(numTables, numBits, dim, center, seed)
      .copy(groupShift = shift)
    layoutRows(df, vecCol, idCol, model)
      .write.mode("overwrite")
      .partitionBy(TableCol, GroupCol).parquet(path)
    writeSidecar(df.sparkSession, path, numTables, numBits, dim, seed, center,
      shift)
    model
  }

  /** The layout rows of `df` under `model`, write-ready: ONE pass over one
    * scan — every table's bucket expression evaluates once per row, then a
    * generate fans each row out to its L layout entries — table 0 carrying
    * the single payload copy, tables ≥ 1 a (home, bucket) pointer (12
    * bytes instead of the vector). A union-of-branches here would
    * re-evaluate the L·bits dot products per branch (and pointer branches
    * need TWO bucket columns each) — measured ~1.6× the whole build.
    *
    * The output is hash-repartitioned on the partition columns → exactly
    * one file per non-empty (table, group) dir per write (same key →
    * same task, whatever the task count), with the count PINNED to the
    * cluster's parallelism: left unsized, AQE coalesces this small
    * shuffle to ~one task, and that task then creates every dir/file
    * pair SEQUENTIALLY — measured as ~90% of the whole build at
    * sf0.1. The cost is per-file writer setup × dir count, so it
    * parallelizes perfectly — and the [[GroupCol]] granularity keeps the
    * dir count itself 2^[[BucketGroupShift]]× down. */
  private def layoutRows(df: DataFrame, vecCol: String, idCol: String,
      model: LshTables): DataFrame = {
    val bucketed = withTableBuckets(df, vecCol, model)
    val vecType = df.schema(df.schema.fieldIndex(vecCol)).dataType
    val entries = array((0 until model.numTables).map { t =>
      struct(lit(t).as(TableCol), col(s"lsh_b$t").as(BucketCol),
        (if (t == 0) lit(null).cast("int") else col("lsh_b0")).as(HomeCol))
    }: _*)
    val exploded = bucketed
      .select(col(idCol), col(vecCol), explode(entries).as("e"))
      .select(col(idCol),
        when(col(s"e.$TableCol") === 0, col(vecCol))
          .otherwise(lit(null).cast(vecType)).as(vecCol),
        col(s"e.$HomeCol").as(HomeCol),
        col(s"e.$TableCol").as(TableCol), col(s"e.$BucketCol").as(BucketCol))
      .withColumn(GroupCol, shiftright(col(BucketCol), model.groupShift))
    val writeTasks = math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
    // rows SORTED by exact bucket inside each (table, group) file, so the
    // serve-time bucket In-filter prunes at parquet row-group granularity
    exploded.repartition(writeTasks, col(TableCol), col(GroupCol))
      .sortWithinPartitions(col(TableCol), col(GroupCol), col(BucketCol))
  }

  /** APPEND a micro-batch to a stored layout under the layout's OWN model
    * — the assign-only ingest contract every persisted index family here
    * follows ([[Ivf]] assign, [[HnswStore]] delta): new rows bucket with
    * the DEPLOYED (seed, mean) from the sidecar, so the candidate
    * predicate stays a pure function of the model and serving's partition
    * pruning picks the appended files up unchanged. Mean drift is a
    * maintenance decision (rebuild via [[saveVersioned]]), not a per-batch
    * cost. Each append leaves ≤ 1 new file per touched dir —
    * [[compactBucketed]] folds them on a file-count threshold.
    *
    * CONTRACT: appended ids are NEW — layout ids stay unique. The serving
    * dedup (max-sim per id) assumes every copy of an id carries the same
    * vector; re-appending an id with a CHANGED vector would leave both
    * versions serving, with the one more similar to each query winning.
    * Vector updates go through a rebuild ([[saveVersioned]] /
    * [[maintainBucketed]]), exactly like the facade's update path.
    * The contract is ENFORCEABLE, not just documented: with
    * `spark.graft.lsh.validateAppendIds=true` each append anti-checks the
    * batch's ids against the layout's table-0 id column (a narrow
    * id-only scan) and fails loudly on the first collision — a debug/CI
    * mode, off by default because the scan cost is per batch. */
  def appendBucketed(batch: DataFrame, path: String, model: LshTables,
      vecCol: String = "vector", idCol: String = "id"): Unit = {
    val spark = batch.sparkSession
    if (spark.conf.getOption("spark.graft.lsh.validateAppendIds")
        .exists(_.toBoolean)) {
      val (layoutId, _) = payloadColumns(spark, path)
      val dup = batch.select(col(idCol))
        .join(spark.read.parquet(path).where(col(TableCol) === 0)
          .select(col(layoutId).as("__lsh_existing_id")),
          col(idCol) === col("__lsh_existing_id"), "leftsemi")
        .limit(1).collect()
      require(dup.isEmpty,
        s"appendBucketed: id ${dup.headOption.map(_.get(0)).orNull} already " +
          s"in the layout at $path — appended ids must be NEW; vector " +
          "updates go through a rebuild (saveVersioned/maintainBucketed)")
    }
    layoutRows(batch, vecCol, idCol, model)
      .write.mode("append")
      .partitionBy(TableCol, GroupCol).parquet(path)
  }

  /** Parquet data files under `path` ([[graft.store.Fs.dataFileCount]]) —
    * the compaction trigger statistic. */
  private[graft] def dataFileCount(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = graft.store.Fs.dataFileCount(spark, path)

  /** File-count-triggered compaction of a stored layout: folds every
    * (table, group) dir back to one file via a full read + the
    * [[layoutRows]] repartition, landing through the same
    * write-beside-and-swap as the clustered-IVF compaction
    * ([[Ivf.compactClustered]]'s machinery) with the model sidecar copied
    * into the replacement before the swap. Content-preserving — same
    * rows, same partition dirs — so serving and the delete-unprobed-dirs
    * invariance are unchanged (StreamingSpec proves it). Writers
    * quiesced, single-writer, like every maintenance pass. Returns
    * whether a rewrite happened.
    *
    * FIXED-LOCATION layouts only: a [[graft.store.VersionedLayout]]
    * version dir must compact via [[compactVersioned]] instead — its
    * commit marker is not part of the layout rewrite, so an in-place swap
    * would leave the folded copy uncommitted (invisible to readers). */
  def compactBucketed(spark: org.apache.spark.sql.SparkSession, path: String,
      maxDataFiles: Int): Boolean = {
    if (dataFileCount(spark, path) <= maxDataFiles) return false
    Ivf.rewriteSwapped(spark, path) { tmp =>
      // already layout-shaped rows: re-bucket nothing, just fold files
      rewriteLayoutTo(spark, path, tmp)
    }
    true
  }

  /** [[compactBucketed]] for a VERSIONED root: the folded copy publishes
    * as the NEXT version (readers keep their snapshot; the marker commits
    * only after the rewrite completes — the same serving-safe landing as
    * [[saveVersioned]] rebuilds), so no writer quiescence is needed for
    * READERS, only the single-writer publish contract. Returns whether a
    * new version was published. */
  def compactVersioned(spark: org.apache.spark.sql.SparkSession, root: String,
      maxDataFiles: Int): Boolean = {
    val cur = currentLayout(spark, root)
    if (dataFileCount(spark, cur) <= maxDataFiles) return false
    graft.store.VersionedLayout.publish(spark, root)(tmp =>
      rewriteLayoutTo(spark, cur, tmp))
    true
  }

  /** Layout-shaped rewrite of a stored layout into `to`: same rows, same
    * dir scheme, in-file bucket sort restored (the row-group pruning
    * contract), sidecar copied. The single write path behind compaction
    * and save-dir relocation — one partitioning scheme, no copies to
    * drift. */
  private[graft] def rewriteLayoutTo(spark: org.apache.spark.sql.SparkSession,
      from: String, to: String): Unit = {
    // partition count PINNED like every layout write: unsized, AQE
    // coalesces this small shuffle to ~one task which then creates all
    // the dir/file pairs sequentially (the measured build pathology)
    val writeTasks = math.max(spark.sparkContext.defaultParallelism, 1)
    spark.read.parquet(from)
      .repartition(writeTasks, col(TableCol), col(GroupCol))
      .sortWithinPartitions(col(TableCol), col(GroupCol), col(BucketCol))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy(TableCol, GroupCol).parquet(to)
    copySidecar(spark, from, to)
  }

  private def writeSidecar(spark: org.apache.spark.sql.SparkSession, path: String,
      numTables: Int, numBits: Int, dim: Int, seed: Long,
      center: Array[Double], groupShift: Int): Unit = {
    val (fs, p) = graft.store.Fs.pathFs(spark, path)
    val out = fs.create(new org.apache.hadoop.fs.Path(p, SidecarFile), true)
    try out.write(
      (s"numTables=$numTables\nnumBits=$numBits\ndim=$dim\nseed=$seed\n" +
        s"center=${center.mkString(",")}\ngroupShift=$groupShift\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Re-derive the model of a stored layout from its sidecar — tables are a
    * pure function of (seed, mean), so the sidecar is ~dim doubles, not
    * L·bits·dim planes. The sidecar is VALIDATED against the layout it
    * sits in (required keys present and numeric; the `lsh_table=` dirs
    * actually on disk within [0, numTables); bucket dirs within
    * [0, 2^numBits)) — a truncated or hand-edited sidecar must fail
    * loudly here, not silently probe the wrong buckets. */
  def loadTables(spark: org.apache.spark.sql.SparkSession, path: String): LshTables = {
    val (numTables, numBits, dim, seed, center, groupShift) =
      sidecarParams(spark, path)
    tables(numTables, numBits, dim, center, seed).copy(groupShift = groupShift)
  }

  /** Parsed + validated sidecar of a stored layout —
    * (numTables, numBits, dim, seed, center, groupShift). Maintenance
    * rebuilds read the hyperparameters from here so a rebuilt layout
    * answers with the same tables as the one it replaces; a sidecar
    * without the groupShift key (pre-derived-shift layout) reads as the
    * [[BucketGroupShift]] constant those layouts were built with. */
  private[graft] def sidecarParams(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int, Int, Long, Array[Double], Int) = {
    val (fs, p) = graft.store.Fs.pathFs(spark, path)
    val sp = new org.apache.hadoop.fs.Path(p, SidecarFile)
    require(fs.exists(sp), s"no LSH sidecar at $path — need a saveBucketed layout")
    val in = fs.open(sp)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val kv = txt.split("\n").filter(_.contains("=")).map { l =>
      val Array(k, v) = l.split("=", 2); k -> v.trim
    }.toMap
    val required = Seq("numTables", "numBits", "dim", "seed", "center")
    val missing = required.filterNot(kv.contains)
    require(missing.isEmpty,
      s"LSH sidecar at $path is missing keys ${missing.mkString(",")} — " +
        "truncated or hand-edited; rebuild the layout")
    val (numTables, numBits, dim, seed) =
      try (kv("numTables").toInt, kv("numBits").toInt, kv("dim").toInt,
        kv("seed").toLong)
      catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"LSH sidecar at $path has non-numeric values — corrupt; rebuild the layout", e)
      }
    val center =
      if (kv("center").isEmpty) Array.empty[Double]
      else try kv("center").split(",").map(_.toDouble)
      catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"LSH sidecar at $path has a non-numeric center — corrupt; rebuild the layout", e)
      }
    require(center.isEmpty || center.length == dim,
      s"LSH sidecar at $path: center has ${center.length} components, dim=$dim")
    val groupShift =
      try kv.get("groupShift").map(_.toInt).getOrElse(BucketGroupShift)
      catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"LSH sidecar at $path has a non-numeric groupShift — corrupt; rebuild the layout", e)
      }
    require(groupShift >= 0 && groupShift <= numBits,
      s"LSH sidecar at $path: groupShift=$groupShift outside [0, numBits=$numBits]")
    // cross-check the sidecar against the partition dirs actually present —
    // a sidecar pasted from a different layout would otherwise silently
    // probe buckets that never match the stored dirs
    val maxGroup = groupOf((1 << numBits) - 1, groupShift)
    val tableDirs = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$TableCol="))
      .map(_.getPath)
    tableDirs.foreach { td =>
      val t = td.getName.stripPrefix(s"$TableCol=").toInt
      require(t >= 0 && t < numTables,
        s"LSH layout at $path has dir ${td.getName} outside sidecar numTables=$numTables")
      fs.listStatus(td).toSeq.filter(_.isDirectory).foreach { bd =>
        val name = bd.getPath.getName
        if (name.startsWith(s"$GroupCol=")) {
          val g = name.stripPrefix(s"$GroupCol=").toInt
          require(g >= 0 && g <= maxGroup,
            s"LSH layout at $path has dir ${td.getName}/$name " +
              s"outside sidecar numBits=$numBits")
        } else if (!name.startsWith("_") && !name.startsWith(".")) {
          // fail LOUDLY on a pre-bucket-group layout (or any foreign
          // partitioning): silently accepting it would crash at query
          // time on the missing group column — or worse, an append would
          // interleave two partition schemes under one root
          throw new IllegalArgumentException(
            s"LSH layout at $path has dir ${td.getName}/$name — not the " +
              s"current ($TableCol=, $GroupCol=) bucket-group format " +
              "(a layout from an older build partitions by exact bucket); " +
              "rebuild the layout with saveBucketed/saveVersioned")
        }
      }
    }
    (numTables, numBits, dim, seed, center, groupShift)
  }

  /** Copy a layout's model sidecar to a relocated layout dir (save-dir
    * moves rewrite the parquet through a DataFrame, which drops it). */
  private[graft] def copySidecar(spark: org.apache.spark.sql.SparkSession,
      from: String, to: String): Unit = {
    val (srcFs, fp) = graft.store.Fs.pathFs(spark, from)
    // the DESTINATION's filesystem, resolved from the destination path —
    // passing the source fs for both sides breaks cross-FS saves
    // (e.g. hdfs scratch -> s3a save dir) with a "Wrong FS" error
    val (dstFs, tp) = graft.store.Fs.pathFs(spark, to)
    org.apache.hadoop.fs.FileUtil.copy(srcFs, new org.apache.hadoop.fs.Path(fp, SidecarFile),
      dstFs, new org.apache.hadoop.fs.Path(tp, SidecarFile), false, spark.sparkContext.hadoopConfiguration)
    ()
  }

  /** First/next publish of an inverted-list layout under a
    * [[graft.store.VersionedLayout]] root — the serving-safe lifecycle the
    * other persisted indexes have (rebuilds land as the next version;
    * readers keep their snapshot; a crash mid-write leaves the previous
    * version live). Returns (committed dir, model). */
  def saveVersioned(df: DataFrame, vecCol: String, idCol: String, root: String,
      dim: Int, numTables: Int = DefaultTables, numBits: Int = DefaultBits,
      seed: Long = 42L): (String, LshTables) = {
    var model: LshTables = null
    val dir = graft.store.VersionedLayout.publish(df.sparkSession, root)(d =>
      model = saveBucketed(df, vecCol, idCol, d, dim, numTables, numBits, seed))
    (dir, model)
  }

  /** The live layout version under a versioned root. */
  def currentLayout(spark: org.apache.spark.sql.SparkSession, root: String): String =
    graft.store.VersionedLayout.currentDir(spark, root)
      .getOrElse(throw new IllegalStateException(s"no committed LSH layout under $root"))

  /** Drift statistic of a stored layout: L2 distance between the sidecar's
    * center (the model every append bucketed under) and the CURRENT
    * payload sample mean ([[sampleMeanVector]] over the table-0 dirs —
    * bounded per tick, like the build-side statistic it is compared to). */
  def centerDrift(spark: org.apache.spark.sql.SparkSession, path: String): Double = {
    val (_, _, dim, _, center, _) = sidecarParams(spark, path)
    val (idCol, vecCol) = payloadColumns(spark, path)
    val cur = sampleMeanVector(
      spark.read.parquet(path).where(col(TableCol) === 0)
        .select(col(idCol), col(vecCol)),
      vecCol, idCol, dim)
    val c = if (center.isEmpty) new Array[Double](dim) else center
    math.sqrt(c.zip(cur).map { case (a, b) => (a - b) * (a - b) }.sum)
  }

  /** Drift-triggered maintenance of a stored layout — the sign-LSH analog
    * of [[Ivf.maintainClustered]] (drift → refit → rewrite) closing the
    * lifecycle [[appendBucketed]] opens: appended batches bucket under the
    * DEPLOYED (seed, mean), and as the corpus mean drifts the centered
    * bits lose balance — recall and scanned fraction degrade together
    * (the centering argument in the module doc). When [[centerDrift]]
    * exceeds `driftThreshold` (absolute L2 in the data's units — the
    * caller knows its embedding scale), the layout rebuilds from its own
    * table-0 payload rows with the same (numTables, numBits, seed) and
    * the FRESH mean, landing through the same write-beside-and-swap as
    * the clustered-IVF maintenance; the rebuilt layout is IDENTICAL to a
    * fresh [[saveBucketed]] over the same rows (spec-gated). Below the
    * threshold it is a no-op. Writers quiesced, single-writer. Returns
    * (live model, whether a rebuild happened). */
  def maintainBucketed(spark: org.apache.spark.sql.SparkSession, path: String,
      driftThreshold: Double): (LshTables, Boolean) = {
    // parse + validate the sidecar and resolve the payload columns ONCE —
    // the sidecar validation lists every partition dir, so re-running it
    // per sub-step (as calling centerDrift/loadTables here would) costs
    // thousands of redundant LIST calls per maintenance tick on an
    // object store
    val (numTables, numBits, dim, seed, center, groupShift) =
      sidecarParams(spark, path)
    val (idCol, vecCol) = payloadColumns(spark, path)
    val cur = sampleMeanVector(
      spark.read.parquet(path).where(col(TableCol) === 0)
        .select(col(idCol), col(vecCol)),
      vecCol, idCol, dim)
    val c = if (center.isEmpty) new Array[Double](dim) else center
    val drift = math.sqrt(c.zip(cur).map { case (a, b) => (a - b) * (a - b) }.sum)
    if (drift <= driftThreshold)
      (tables(numTables, numBits, dim, center, seed).copy(groupShift = groupShift),
        false)
    else {
      var model: LshTables = null
      Ivf.rewriteSwapped(spark, path) { tmp =>
        model = saveBucketed(
          spark.read.parquet(path).where(col(TableCol) === 0)
            .select(col(idCol), col(vecCol)),
          vecCol, idCol, tmp, dim, numTables, numBits, seed)
      }
      (model, true)
    }
  }

  /** The (idCol, vecCol) names of a stored layout — its schema is
    * [id, vector, home, bucket | table, group] by construction
    * ([[layoutRows]] column order; partition columns resolve last on
    * read). */
  private def payloadColumns(spark: org.apache.spark.sql.SparkSession,
      path: String): (String, String) = {
    val fields = spark.read.parquet(path).schema.fieldNames
    val reserved = Set(HomeCol, TableCol, BucketCol, GroupCol)
    val data = fields.filterNot(reserved)
    require(data.length == 2,
      s"layout at $path has unexpected columns ${fields.mkString(",")}")
    (data(0), data(1))
  }

  /** Candidate predicate over the STORED layout for explicit per-table
    * probe sets, as a conjunction of two disjunctions:
    *
    *  - (table, GROUP-isin) — references only PARTITION columns, so it
    *    lands whole in PartitionFilters and prunes dirs/files at planning
    *    time;
    *  - (table, exact-BUCKET-isin) — a data-column predicate, pushed to
    *    the parquet reader (PushedFilters) where the in-file bucket sort
    *    prunes row groups.
    *
    * The group conjunct is implied by the bucket conjunct (a probed
    * bucket's group is probed), so the AND has exactly the per-bucket
    * candidate semantics — the split exists because a single OR mixing
    * partition and data columns would qualify as neither a partition
    * filter nor a pushable data filter. */
  private def storedFilter(sets: IndexedSeq[Seq[Int]],
      shift: Int): Column = {
    val groupPred = sets.indices.map { t =>
      col(TableCol) === t &&
        col(GroupCol).isin(sets(t).map(groupOf(_, shift)).distinct: _*)
    }.reduceLeft(_ || _)
    val bucketPred = sets.indices.map { t =>
      col(TableCol) === t && col(BucketCol).isin(sets(t): _*)
    }.reduceLeft(_ || _)
    groupPred && bucketPred
  }

  /** Approximate top-k over the stored layout, in ONE pass over the
    * probed dirs + ONE payload fetch:
    *
    *  1. CANDIDATE POINTERS — a narrow scan of the probed bucket dirs of
    *     every table emitting (id, home), where a table-0 row's home IS
    *     its bucket (`coalesce(home, bucket)`). The vector column is not
    *     referenced, so column pruning keeps this scan to two ints per
    *     row — no vector bytes move until the fetch.
    *  2. PAYLOAD FETCH — every candidate's vector is read ONCE with one
    *     LEFT SEMI broadcast join against table-0 on (id, home-bucket):
    *     semi-join semantics dedup multi-table admissions for free (no
    *     aggregate in the plan). The home-bucket equi-key lands on the
    *     layout's PARTITION column, so Spark's dynamic partition pruning
    *     reuses the pointer broadcast to prune the fetch scan to exactly
    *     the home dirs at execution time (`dynamicpruningexpression` on
    *     the scan — spec-asserted).
    *
    * This replaced a direct∪fetch union whose home set was
    * distinct-collected driver-side into a static `isin`: same pruned
    * file set, but one fewer Spark job per serve, no union (home dirs
    * overlapping probed table-0 dirs were scanned by BOTH branches), and
    * no post-score dedup (ids are unique after the pointer dedup) —
    * the collect+union constant had doubled serve latency
    * (BENCH_CLEAN_r8 `ann_lsh_topk` 2.05 s vs the ≤ 1 s target).
    *
    * The broadcast is bounded by the candidate set, which the probe
    * budget bounds by construction (and [[Adaptive]] anchors to
    * overscan·k) — the same small-side contract as the IVF batch path.
    * Candidate-set semantics are IDENTICAL to [[searchMulti]] (row
    * admitted iff any table probes its bucket), so recall and scanned
    * fraction carry over unchanged — spec-gated, including the
    * file-deletion invariance proving nothing outside probed ∪ home dirs
    * is read. */
  def searchStored(layout: DataFrame, model: LshTables,
      query: Seq[Double], topK: Int, rule: ProbeRule = Directed(DefaultProbes),
      vecCol: String = "vector", idCol: String = "id"): DataFrame = {
    val shift = model.groupShift
    // renamed pointer columns — the payload fetch is a self-join on the
    // layout's lineage, and distinct names sidestep ambiguous-attribute
    // resolution entirely. LEFT SEMI: a table-0 row is fetched iff ANY
    // pointer names it, which dedups multi-table admissions for free —
    // no dropDuplicates aggregate pair in the plan at all
    val ptr = layout.where(storedFilter(probeSets(model, rule, query, topK), shift))
      .select(col(idCol).as("__lsh_ptr_id"),
        coalesce(col(HomeCol), col(BucketCol)).as("__lsh_ptr_home"))
      .withColumn("__lsh_ptr_hgroup",
        shiftright(col("__lsh_ptr_home"), shift))
    layout.where(col(TableCol) === 0)
      .join(broadcast(ptr), col(idCol) === col("__lsh_ptr_id") &&
        col(BucketCol) === col("__lsh_ptr_home") &&
        col(GroupCol) === col("__lsh_ptr_hgroup"), "leftsemi")
      .select(col(idCol), col(vecCol))
      .withColumn("sim",
        round(graft.functions.VectorFunctions.cosineQuery(col(vecCol), query), 6))
      .select(col(idCol), col("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(topK)
  }

  /** The (table, GROUP) dirs a stored serve of `query` may read: the
    * probed buckets' group dirs of every table PLUS the table-0 home
    * group dirs the pointer candidates fetch their payload from.
    * LshStoreSpec deletes everything outside this set and proves results
    * unchanged. */
  private[graft] def dependencyDirs(layout: DataFrame, model: LshTables,
      query: Seq[Double], topK: Int, rule: ProbeRule): Set[(Int, Int)] = {
    val shift = model.groupShift
    val sets = probeSets(model, rule, query, topK)
    val probed = sets.zipWithIndex.flatMap { case (bs, t) =>
      bs.map(b => (t, groupOf(b, shift)))
    }.toSet
    val homes = layout.where(storedFilter(sets, shift))
      .where(col(TableCol) > 0)
      .select(HomeCol).distinct().collect()
      .map(r => (0, groupOf(r.getInt(0), shift))).toSet
    probed ++ homes
  }

  /** S4 for the stored layout: ONE distributed job for the whole query
    * set (the [[Ivf.batchSearch]] shape applied to LSH). Each query's
    * probed (table, bucket) dirs are computed driver-side; the scan
    * predicate is the UNION of every query's probed dirs — still a pure
    * partition-column predicate, so every unprobed bucket dir prunes at
    * planning time — per-query admission is a broadcast equi-join on
    * (table, bucket), every candidate fetches its payload ONCE for all
    * queries via the DPP-pruned home-bucket join, and ranking is the
    * k-bounded aggregator after the per-(query, id) pointer dedup.
    * Per-query candidate semantics are IDENTICAL to [[searchStored]] —
    * spec-gated (LshStoreSpec batch==single parity). */
  def batchSearchStored(layout: DataFrame, model: LshTables,
      queries: Seq[(Long, Seq[Double])], topK: Int,
      rule: ProbeRule = Directed(DefaultProbes),
      vecCol: String = "vector", idCol: String = "id"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = layout.sparkSession
    // empty query set -> empty result frame (the other batch paths'
    // contract), not a reduceLeft crash on the empty probe union
    if (queries.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("query_id", LongType), StructField(idCol, LongType),
          StructField("sim", DoubleType), StructField("rn", LongType))))
    val shift = model.groupShift
    val kernel = rule.kernel(model, topK)
    val probed: Seq[(Long, Int, Int)] = queries.flatMap { case (qid, q) =>
      perTable(model, kernel.probeSets(q.toArray)).zipWithIndex.flatMap { case (bs, t) =>
        bs.map(b => (qid, t, b))
      }
    }
    val byTable = probed.groupBy(_._2).view.mapValues(_.map(_._3).distinct).toMap
    // the union of every query's probe sets through the SAME
    // group-conjunct/bucket-conjunct split as the single-query path
    // ([[storedFilter]]): a single OR mixing the lsh_table
    // partition column with the lsh_bucket DATA column qualifies as
    // neither a partition filter nor a pushable parquet filter, so the
    // admission scan would read every (table, group) dir post-filter
    val unionPred = storedFilter(
      IndexedSeq.tabulate(byTable.keys.max + 1)(t =>
        byTable.getOrElse(t, Seq.empty)), shift)
    val qdf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        probed.map { case (qid, t, b) => Row(qid, t, b) }),
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField(TableCol, IntegerType, nullable = false),
        StructField(BucketCol, IntegerType, nullable = false))))
    // the [[searchStored]] one-pass shape, per query: a NARROW admission
    // scan (id + home — a table-0 row's home IS its bucket; no vector
    // read), per-(query, id) pointer dedup, then ONE payload fetch for
    // all queries via a broadcast join whose home-bucket key is the
    // layout's partition column — dynamic partition pruning reuses the
    // pointer broadcast to prune the fetch scan to the union of home
    // dirs at execution time, no driver-side collect job
    val admitted = graft.operators.Par.widen(layout.where(unionPred))
      .join(broadcast(qdf), Seq(TableCol, BucketCol))
    val ptr = admitted
      .select(col("query_id").as("__lsh_ptr_qid"), col(idCol).as("__lsh_ptr_id"),
        coalesce(col(HomeCol), col(BucketCol)).as("__lsh_ptr_home"))
      .dropDuplicates("__lsh_ptr_qid", "__lsh_ptr_id")
      .withColumn("__lsh_ptr_hgroup",
        shiftright(col("__lsh_ptr_home"), shift))
    val candidates = layout.where(col(TableCol) === 0)
      .join(broadcast(ptr), col(idCol) === col("__lsh_ptr_id") &&
        col(BucketCol) === col("__lsh_ptr_home") &&
        col(GroupCol) === col("__lsh_ptr_hgroup"))
      .select(col("__lsh_ptr_qid").as("query_id"), col(idCol), col(vecCol))
    val qv = spark.createDataFrame(
      spark.sparkContext.parallelize(queries.map { case (qid, q) => Row(qid, q) }),
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("qvec", ArrayType(DoubleType, containsNull = false), nullable = false))))
    // ids are unique per query after the pointer dedup — no second dedup.
    // Sims are ROUNDED to the output precision BEFORE the k-selection so
    // the aggregator ranks on exactly the (round(sim,6) desc, id asc)
    // order [[searchStored]] sorts by — selecting on raw sims could pick
    // a different candidate on <1e-6 near-ties and flake the
    // batch==single parity gate
    val scored = candidates
      .join(broadcast(qv), "query_id")
      .withColumn("sim_raw",
        round(graft.GraftExtensions.cosineSim(col(vecCol), col("qvec")), 6))
      .select(col("query_id"), col(idCol), col("sim_raw"))
    graft.operators.TopK.perGroupTopK(scored, "query_id", col(idCol), col("sim_raw"), topK)
      .withColumnRenamed("id", idCol)
  }

  /** [[batchSearchStored]] for query sets too large to collect: the
    * queries stay a DataFrame end-to-end. Each query row resolves `rule`
    * with the codegen'd [[graft.functions.LshProbeSets]] expression — the
    * same walk the collected serves run on the driver, so the probe sets
    * (and results) are identical (BigBatchSpec-gated) — exploded to
    * (query_id, table, bucket) probe rows, and every join in the one-pass
    * admission → pointer-dedup → payload-fetch → score shape becomes a
    * SHUFFLE equi-join instead of a broadcast: nothing query-sized touches
    * the driver. There is deliberately no static scan predicate: a big
    * batch's probed-bucket union approaches every dir, so the admission
    * scan reads the (narrow) pointer columns once.
    *
    * `acceptIds` is the S5 filter at query-set scale: a one-column id
    * frame (the caller's predicate applied to its metadata table) LEFT
    * SEMI shuffle-joined into the payload fetch, so rejected rows never
    * ship vector bytes and every result satisfies the predicate exactly.
    * Bucket ADMISSION is filter-independent (like every LSH path), so a
    * highly selective predicate can return fewer than topK rows when the
    * probed buckets hold too few accepted candidates — the documented
    * starvation trade of filtering a bucketed index; widen the probe
    * budget (overscan) under selective filters. */
  def bigBatchSearchStored(layout: DataFrame, model: LshTables,
      queries: DataFrame, topK: Int, rule: ProbeRule = Directed(DefaultProbes),
      vecCol: String = "vector", idCol: String = "id",
      queryIdCol: String = "query_id", queryVecCol: String = "qvec",
      acceptIds: Option[DataFrame] = None): DataFrame = {
    val shift = model.groupShift
    val q0 = graft.operators.Par.widen(queries)
      .select(col(queryIdCol).cast("long").as("query_id"),
        col(queryVecCol).cast("array<double>").as("qvec"))
    val qdf = q0
      .select(col("query_id"),
        explode(graft.functions.LshProbeExpressions.probeSets(col("qvec"),
          rule.kernel(model, topK))).as("__lsh_probe"))
      .select(col("query_id"),
        shiftright(col("__lsh_probe"), graft.functions.LshProbeKernel.PackShift)
          .cast("int").as(TableCol),
        col("__lsh_probe")
          .bitwiseAND(lit((1 << graft.functions.LshProbeKernel.PackShift) - 1))
          .cast("int").as(BucketCol))
    // narrow admission scan (id + home, no vector bytes), shuffle-joined
    // against the probe rows on (table, bucket)
    val admitted = graft.operators.Par.widen(layout)
      .join(qdf.hint("shuffle_hash"), Seq(TableCol, BucketCol))
    val ptr = admitted
      .select(col("query_id"), col(idCol).as("__lsh_ptr_id"),
        coalesce(col(HomeCol), col(BucketCol)).as("__lsh_ptr_home"))
      .dropDuplicates("query_id", "__lsh_ptr_id")
      .withColumn("__lsh_ptr_hgroup",
        shiftright(col("__lsh_ptr_home"), shift))
    // payload fetch: one shuffle join against table-0 on (id, home-bucket)
    val fetchSide = acceptIds.foldLeft(layout.where(col(TableCol) === 0)) {
      (d, ids) => d.join(ids.select(col(idCol)).hint("shuffle_hash"),
        Seq(idCol), "leftsemi")
    }
    val candidates = fetchSide
      .join(ptr.hint("shuffle_hash"),
        col(idCol) === col("__lsh_ptr_id") &&
          col(BucketCol) === col("__lsh_ptr_home") &&
          col(GroupCol) === col("__lsh_ptr_hgroup"))
      .select(col("query_id"), col(idCol), col(vecCol))
    // same pre-rank rounding as the collected path (ranking order parity)
    val scored = candidates
      .join(q0.hint("shuffle_hash"), "query_id")
      .withColumn("sim_raw",
        round(graft.GraftExtensions.cosineSim(col(vecCol), col("qvec")), 6))
      .select(col("query_id"), col(idCol), col("sim_raw"))
    graft.operators.TopK.perGroupTopK(scored, "query_id", col(idCol), col("sim_raw"), topK)
      .withColumnRenamed("id", idCol)
  }

  /** Fraction of rows `rule` admits for `query` at top-`topK` — the
    * scanned-fraction denominator of the recall/cost trade (H2 harness
    * reports it beside recall). */
  def scannedFraction(bucketed: DataFrame, model: LshTables,
      query: Seq[Double], topK: Int,
      rule: ProbeRule = Directed(DefaultProbes)): Double = {
    val agg = bucketed.select(
      count(lit(1)).as("n"),
      count(when(candidateFilter(probeSets(model, rule, query, topK)), 1)).as("c")).head
    val n = agg.getLong(0)
    if (n == 0L) 0.0 else agg.getLong(1).toDouble / n
  }
}
