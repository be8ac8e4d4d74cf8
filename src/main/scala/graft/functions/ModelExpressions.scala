package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.pq.ProductQuantizer

/** Native codegen expressions for the model-parameterized per-row kernels
  * of the IVF / IVF-PQ / PQ paths — nearest-centroid assignment, probe
  * lists, residual PQ encode/decode, and ADC scoring.
  *
  * These were Scala UDFs. A UDF is a codegen black box: it forces a
  * `ScalaUDF` eval node that converts every `ARRAY<DOUBLE>` argument from
  * Tungsten's `ArrayData` into a boxed `Seq[Double]` per row, blocks
  * whole-stage codegen through the projection, and hides the expression
  * from column pruning. The ADC scorer in particular is THE per-row inner
  * loop of the 100 TB serving path (probed partitions × m byte-lookups per
  * row). Each kernel here instead reads `ArrayData`/`byte[]` directly and
  * participates in whole-stage codegen via a reference-object method call
  * (the same pattern Spark's own regexp expressions use for their compiled
  * `Pattern`), so the serving plans show a plain `Project` inside one
  * `WholeStageCodegen` span — no `UDF` node (PlanSpec asserts this).
  *
  * The fitted model state (centroids, codebooks, LUTs) has no SQL literal
  * form, so these can't go through the function registry like
  * [[CosineSimilarity]]; they are wrapped into Columns directly
  * ([[ModelExpressions]]) via the `org.apache.spark.sql.graftbridge`
  * bridge. Arithmetic is IDENTICAL to the UDFs they replace (same loop
  * order, same ties-to-lower-index argmins), so every seeded artifact —
  * cluster assignments, PQ codes, recall numbers — is unchanged.
  */
object ModelExpressions {

  /** Column-level cast to ARRAY<DOUBLE> (same convention as
    * [[graft.GraftExtensions]]): resolves/coerces during analysis, so a
    * FLOAT embedding column or a nullable-element array both land on the
    * kernel's contract; the optimizer's SimplifyCasts drops it when the
    * input is already exactly ARRAY<DOUBLE>. */
  private def dbl(c: Column): Expression =
    ColumnBridge.expression(c.cast("array<double>"))

  /** cluster_id of the L2-nearest centroid ([[graft.index.Ivf.assign]]). */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(NearestCentroid(
      dbl(vec), new IvfKernel(centroids)))

  /** All-components PCA projection of the normalized vector
    * ([[graft.pq.Pca]] — array of R doubles; see [[PcaKernel]]). */
  def pcaProject(vec: Column, mean: Array[Double],
      components: Array[Array[Double]]): Column =
    ColumnBridge.column(PcaProjectAll(
      dbl(vec), new PcaKernel(mean, components)))

  /** Per-row frozen-LM bigram score — [n_bigrams, nll_q] (see
    * [[LmScoreKernel]]). */
  def lmScore(text: Column, m: graft.text.NgramLm.Model): Column = {
    val pairs = new java.util.HashMap[java.lang.Long, java.lang.Long](
      m.pairs.size * 2)
    m.pairs.foreach { case ((b1, b2), q) =>
      pairs.put((b1.toLong << 32) | b2.toLong, q)
    }
    ColumnBridge.column(LmScore(
      ColumnBridge.expression(text),
      new LmScoreKernel(pairs, m.ctxDefault, graft.text.NgramLm.B)))
  }

  /** L2 distance from a row's vector to its assigned centroid
    * ([[graft.index.Ivf.meanAssignmentDistance]]). */
  def centroidDistance(vec: Column, clusterId: Column,
      centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(CentroidDistance(
      dbl(vec), ColumnBridge.expression(clusterId),
      new IvfKernel(centroids)))

  /** The probe list of the one centroid walk ([[IvfKernel.probes]]) per
    * row of `vec`, stopping by `stop` — every per-row IVF and routed-HNSW
    * probe list ([[graft.index.Ivf.ProbeRule]],
    * [[graft.index.HnswStore.ProbeRule]]). */
  def probeClusters(vec: Column, centroids: Array[Array[Double]],
      stop: ProbeStop): Column =
    ColumnBridge.column(ProbeClusters(dbl(vec), new IvfKernel(centroids), stop))

  /** PQ-encode a raw vector (W8 compress). */
  def pqEncode(vec: Column, pq: ProductQuantizer): Column =
    ColumnBridge.column(PqEncode(
      dbl(vec), new PqKernel(pq, null)))

  /** PQ-encode the residual v − centroid(cluster) ([[graft.index.IvfPq]]). */
  def pqEncodeResidual(vec: Column, clusterId: Column, pq: ProductQuantizer,
      centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(PqEncodeResidual(
      dbl(vec), ColumnBridge.expression(clusterId),
      new PqKernel(pq, centroids)))

  /** Reconstruct a vector from its PQ code (W9 decompress). */
  def pqDecode(code: Column, pq: ProductQuantizer): Column =
    ColumnBridge.column(PqDecode(
      ColumnBridge.expression(code), new PqKernel(pq, null)))

  /** ADC score from a single-query LUT (lut(s)(code) — cluster-less PQ
    * scan, [[graft.pq.ProductQuantizer.adcTopK]]). */
  def adcScore(code: Column, lut: Array[Array[Double]]): Column =
    ColumnBridge.column(AdcScore(
      ColumnBridge.expression(code), new AdcKernel(Array(lut)), 0))

  /** ADC score with per-cluster residual LUTs ([[graft.index.IvfPq.search]]):
    * luts is indexed by cluster_id (null for unprobed clusters — the scan
    * is pruned to probed ones before this projection). */
  def adcScoreClustered(clusterId: Column, code: Column,
      luts: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(AdcScoreClustered(
      ColumnBridge.expression(clusterId), ColumnBridge.expression(code),
      new AdcKernel(luts)))

  /** Direct (LUT-free) residual ADC score from the query vector itself —
    * the big-batch scorer ([[graft.index.IvfPq.bigBatchSearch]]). */
  def adcScoreDirect(qvec: Column, clusterId: Column, code: Column,
      pq: ProductQuantizer, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(AdcScoreDirect(
      dbl(qvec), ColumnBridge.expression(clusterId),
      ColumnBridge.expression(code), new PqKernel(pq, centroids)))

  /** ADC score with per-(query, cluster) LUTs
    * ([[graft.index.IvfPq.batchSearch]]). */
  def adcScoreBatch(queryId: Column, clusterId: Column, code: Column,
      kernel: BatchAdcKernel): Column =
    ColumnBridge.column(AdcScoreBatch(
      ColumnBridge.expression(queryId), ColumnBridge.expression(clusterId),
      ColumnBridge.expression(code), kernel))

  /** SQ8-encode a raw vector ([[graft.pq.ScalarQuantizer.encodeDf]]). */
  def sqEncode(vec: Column, sq: graft.pq.ScalarQuantizer): Column =
    ColumnBridge.column(SqEncode(dbl(vec), new SqKernel(sq, null)))

  /** Reconstruct a vector from its SQ8 code. */
  def sqDecode(code: Column, sq: graft.pq.ScalarQuantizer): Column =
    ColumnBridge.column(SqDecode(
      ColumnBridge.expression(code), new SqKernel(sq, null)))

  /** Exact cosine of the SQ8 reconstruction vs a fixed query — the
    * stored-codes serving score ([[graft.pq.ScalarQuantizer.adcTopK]]). */
  def sqScore(code: Column, sq: graft.pq.ScalarQuantizer, query: Array[Double]): Column =
    ColumnBridge.column(SqScore(
      ColumnBridge.expression(code), new SqKernel(sq, query)))

  /** One-pass hashing-trick accumulator ([[graft.text.HashEmbedder]]):
    * each token hash votes ±1 (sign = bit 8) into component `h mod dim` of
    * a dim-length array — O(tokens + dim) per row, replacing the
    * per-dimension `aggregate` chain that re-scanned the hash array `dim`
    * times. Arithmetic is IDENTICAL to that chain (and to the `tx_embed`
    * DuckDB oracle): a null or negative hash contributes nothing. */
  def hashEmbed(tokenHashes: Column, dim: Int): Column =
    ColumnBridge.column(HashEmbed(
      ColumnBridge.expression(tokenHashes), new HashEmbedKernel(dim)))
}

/** Where the centroid walk ([[IvfKernel.probes]]) stops. Rank `o` of the
  * cosine ranking is admitted while `o < cap` and any of:
  *  - the admitted clusters hold fewer than `massTarget` rows (`sizes`,
  *    indexed by cluster id, 0 past the end) — the skew guard;
  *  - `o < floor` — the boundary floor;
  *  - its centroid's cosine distance is within `margin` of the best
  *    centroid's — boundary coverage for routed graphs.
  * A fixed count n is `floor = cap = n` with the other two terms off
  * ([[ProbeStop.nearest]]). */
final case class ProbeStop(sizes: Array[Long], massTarget: Long, floor: Int,
    margin: Double, cap: Int)

object ProbeStop {
  /** The `n` most similar centroids. */
  def nearest(n: Int): ProbeStop =
    ProbeStop(Array.emptyLongArray, 0L, n, Double.NegativeInfinity, n)
}

/** Centroid math of the IVF family, the one implementation of its two
  * walks: nearest-centroid assignment (L2, ties to the lower index) and
  * the probe walk (cosine ranking, [[ProbeStop]]). Each has an
  * `Array[Double]` entry for driver-side serves and an `ArrayData` entry
  * for per-row codegen. Every entry point validates the vector's length
  * against the model dimension FIRST: `UnsafeArrayData.getDouble` past
  * `numElements` reads arbitrary memory in production (its bounds assert
  * is compiled out), so a corrupt/short vector must fail the job loudly,
  * not assign a garbage cluster. Element nulls read as 0.0,
  * the repo-wide vector contract ([[VectorBinaryMetric]]; canonical schema
  * is `containsNull = false`). */
final class IvfKernel(val centroids: Array[Array[Double]]) extends Serializable {

  private val dim = centroids(0).length

  private def checkLen(n: Int): Unit =
    if (n < dim)
      throw new IllegalArgumentException(
        s"vector of $n elements is shorter than the model dimension $dim")

  def nearest(v: ArrayData): Int = nearest(v.toDoubleArray())

  def nearest(v: Array[Double]): Int = {
    checkLen(v.length)
    var best = 0; var bestD = Double.MaxValue; var j = 0
    while (j < centroids.length) {
      val c = centroids(j)
      var s = 0.0; var i = 0
      while (i < c.length) { val d = c(i) - v(i); s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = j }
      j += 1
    }
    best
  }

  def dist(v: ArrayData, cl: Int): Double = {
    checkLen(v.numElements())
    val c = centroids(cl)
    var s = 0.0; var i = 0
    while (i < c.length) { val d = c(i) - v.getDouble(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  def probes(v: ArrayData, stop: ProbeStop): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(probes(v.toDoubleArray(), stop))

  /** The probe walk: rank centroids by cosine similarity to `q`, best
    * first, and admit them in rank order until `stop` ends the walk. Each
    * rank is tested before it is admitted. A zero-norm side scores 0;
    * similarities compare by `java.lang.Double.compare` (so 0.0 ranks
    * above -0.0, which an overflowing query norm produces), ties go to the
    * lower index, and NaN similarities rank after every number. The
    * ranking is an O(k) selection per admitted rank, not a sort. */
  def probes(q: Array[Double], stop: ProbeStop): Array[Int] = {
    checkLen(q.length)
    val k = centroids.length
    val sims = new Array[Double](k)
    var j = 0
    while (j < k) {
      val c = centroids(j)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < c.length) {
        val x = c(i); val y = q(i)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      sims(j) = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      j += 1
    }
    val n = math.max(0, math.min(k, stop.cap))
    val taken = new Array[Boolean](k)
    val out = new Array[Int](n)
    var bestDist = 0.0
    var cum = 0L
    var o = 0
    var go = true
    while (go && o < n) {
      var best = -1; var bestS = Double.NaN
      var c = 0
      while (c < k) {
        val sc = sims(c)
        if (!taken(c) && !sc.isNaN &&
            (best < 0 || java.lang.Double.compare(sc, bestS) > 0)) { bestS = sc; best = c }
        c += 1
      }
      // all remaining sims NaN (an Inf vector component makes every
      // cosine NaN): the lowest unclaimed index
      if (best < 0) {
        best = 0
        while (taken(best)) best += 1
        bestS = sims(best)
      }
      if (o == 0) bestDist = 1.0 - bestS
      if (cum < stop.massTarget || o < stop.floor ||
          (1.0 - bestS) <= bestDist + stop.margin) {
        taken(best) = true
        out(o) = best
        cum += (if (best < stop.sizes.length) stop.sizes(best) else 0L)
        o += 1
      } else go = false
    }
    java.util.Arrays.copyOf(out, o)
  }
}

/** PQ encode/decode over `ArrayData`; `centroids == null` ⇒ no residual.
  * Length-validated like [[IvfKernel]] (fail loud, never read past the
  * row's array). */
final class PqKernel(val pq: ProductQuantizer,
    val centroids: Array[Array[Double]]) extends Serializable {

  private def checkLen(v: ArrayData): Unit =
    if (v.numElements() < pq.dim)
      throw new IllegalArgumentException(
        s"vector of ${v.numElements()} elements is shorter than the PQ dimension ${pq.dim}")

  def encode(v: ArrayData): Array[Byte] = {
    checkLen(v)
    val r = new Array[Double](pq.dim)
    var i = 0
    while (i < r.length) { r(i) = v.getDouble(i); i += 1 }
    pq.encode(r)
  }

  def encodeResidual(v: ArrayData, cl: Int): Array[Byte] = {
    checkLen(v)
    val c = centroids(cl)
    val r = new Array[Double](pq.dim)
    var i = 0
    while (i < r.length) { r(i) = v.getDouble(i) - c(i); i += 1 }
    pq.encode(r)
  }

  def decode(code: Array[Byte]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(pq.decode(code))

  /** Direct residual ADC score — the LUT-free spelling for the
    * DataFrame-native big batch ([[graft.index.IvfPq.bigBatchSearch]]):
    * -sum_s ||(v - centroid(cl))_s - codebook_s(code_s)||^2 computed per
    * row with the SAME per-subspace accumulation order (and the same
    * final negation) as the [[BatchAdcKernel]] LUT construction + lookup,
    * so scores are bit-identical to the collected batch path. Costs
    * O(dim) per row instead of the LUT's O(m) lookups — the LUT
    * amortization needs per-(query, cluster) driver state, which is
    * exactly what the big-batch path refuses to hold. */
  def adcDirect(v: ArrayData, cl: Int, code: Array[Byte]): Double = {
    checkLen(v)
    val m = pq.m
    val subDim = pq.subDim
    if (code.length != m)
      throw new IllegalArgumentException(
        s"pq_code of ${code.length} bytes does not match the model's m=$m")
    val cent = centroids(cl)
    var s = 0.0
    var i = 0
    while (i < m) {
      val cb = pq.codebooks(i)(code(i) & 0xff)
      var d = 0.0
      var j = 0
      while (j < subDim) {
        val x = i * subDim + j
        val diff = (v.getDouble(x) - cent(x)) - cb(j)
        d += diff * diff
        j += 1
      }
      s += d
      i += 1
    }
    -s
  }
}

/** ADC lookup-table scorer: luts indexed by cluster_id (one entry for the
  * cluster-less case). score = −Σ_s lut(s)(code(s)) — higher is better. */
final class AdcKernel(val luts: Array[Array[Array[Double]]]) extends Serializable {

  def score(cl: Int, code: Array[Byte]): Double = {
    val lut = luts(cl)
    if (code.length != lut.length)
      throw new IllegalArgumentException(
        s"pq_code of ${code.length} bytes does not match the model's m=${lut.length}")
    var s = 0.0; var i = 0
    while (i < code.length) { s += lut(i)(code(i) & 0xff); i += 1 }
    -s
  }
}

/** Per-(query, cluster) ADC LUTs for batch search, keyed as
  * `qid << 20 | cluster` (cluster counts stay far below 2^20; query ids are
  * batch sequence numbers). */
final class BatchAdcKernel(luts: Map[(Long, Int), Array[Array[Double]]])
    extends Serializable {
  private val table = {
    val m = new java.util.HashMap[java.lang.Long, Array[Array[Double]]](luts.size * 2)
    luts.foreach { case ((qid, cl), lut) =>
      require(cl >= 0 && cl < (1 << 20), s"cluster id $cl out of key range")
      // the packed key has 44 bits for qid; a qid outside [0, 2^43) would
      // silently collide two (qid, cluster) keys and score with the wrong
      // LUT — fail at construction, where the caller can see it
      require(qid >= 0 && qid < (1L << 43), s"query id $qid out of key range [0, 2^43)")
      m.put(java.lang.Long.valueOf((qid << 20) | cl.toLong), lut)
    }
    m
  }

  def score(qid: Long, cl: Int, code: Array[Byte]): Double = {
    val lut = table.get(java.lang.Long.valueOf((qid << 20) | cl.toLong))
    if (lut == null)
      throw new IllegalArgumentException(
        s"no ADC LUT for (query_id=$qid, cluster_id=$cl) — the scanned row's " +
          "cluster was not among this query's probes")
    if (code.length != lut.length)
      throw new IllegalArgumentException(
        s"pq_code of ${code.length} bytes does not match the model's m=${lut.length}")
    var s = 0.0; var i = 0
    while (i < code.length) { s += lut(i)(code(i) & 0xff); i += 1 }
    -s
  }
}

private[functions] trait KernelInputCheck { self: Expression =>
  /** Expected input types, positionally (array types match on element
    * type, ignoring nullability); None = any. */
  protected def expected: Seq[Option[DataType]]
  private def accepts(exp: DataType, actual: DataType): Boolean = (exp, actual) match {
    case (ArrayType(e, _), ArrayType(a, _)) => e == a
    case (e, a) => e == a
  }
  override def checkInputDataTypes(): TypeCheckResult = {
    val mismatch = children.zip(expected).zipWithIndex.collectFirst {
      case ((c, Some(t)), i) if !accepts(t, c.dataType) =>
        s"argument ${i + 1} of $prettyName requires ${t.simpleString}, " +
          s"got ${c.dataType.simpleString}"
    }
    mismatch.fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(
      TypeCheckResult.TypeCheckFailure)
  }
}

private object KernelTypes {
  val Vec: Option[DataType] = Some(ArrayType(DoubleType))
  val Int32: Option[DataType] = Some(IntegerType)
  val Int64: Option[DataType] = Some(LongType)
  val Bin: Option[DataType] = Some(BinaryType)
}
import KernelTypes._

case class NearestCentroid(child: Expression, kernel: IvfKernel)
    extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Vec)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = kernel.nearest(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("ivfKernel", kernel, classOf[IvfKernel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $k.nearest($v);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "nearest_centroid"
}

case class CentroidDistance(left: Expression, right: Expression, kernel: IvfKernel)
    extends BinaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Vec, Int32)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any, cl: Any): Any =
    kernel.dist(v.asInstanceOf[ArrayData], cl.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("ivfKernel", kernel, classOf[IvfKernel].getName)
    nullSafeCodeGen(ctx, ev, (v, cl) => s"${ev.value} = $k.dist($v, $cl);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "centroid_distance"
}

case class ProbeClusters(child: Expression, kernel: IvfKernel, stop: ProbeStop)
    extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Vec)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    kernel.probes(v.asInstanceOf[ArrayData], stop)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("ivfKernel", kernel, classOf[IvfKernel].getName)
    val s = ctx.addReferenceObj("probeStop", stop, classOf[ProbeStop].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $k.probes($v, $s);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "probe_clusters"
}

case class PqEncode(child: Expression, kernel: PqKernel)
    extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Vec)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = kernel.encode(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("pqKernel", kernel, classOf[PqKernel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $k.encode($v);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "pq_encode"
}

case class PqEncodeResidual(left: Expression, right: Expression, kernel: PqKernel)
    extends BinaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Vec, Int32)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any, cl: Any): Any =
    kernel.encodeResidual(v.asInstanceOf[ArrayData], cl.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("pqKernel", kernel, classOf[PqKernel].getName)
    nullSafeCodeGen(ctx, ev, (v, cl) => s"${ev.value} = $k.encodeResidual($v, $cl);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "pq_encode_residual"
}

case class PqDecode(child: Expression, kernel: PqKernel)
    extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Bin)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(c: Any): Any = kernel.decode(c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("pqKernel", kernel, classOf[PqKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $k.decode($c);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "pq_decode"
}

case class AdcScore(child: Expression, kernel: AdcKernel, cluster: Int)
    extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Bin)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(c: Any): Any =
    kernel.score(cluster, c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("adcKernel", kernel, classOf[AdcKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $k.score($cluster, $c);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "adc_score"
}

case class AdcScoreClustered(left: Expression, right: Expression, kernel: AdcKernel)
    extends BinaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Int32, Bin)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(cl: Any, c: Any): Any =
    kernel.score(cl.asInstanceOf[Int], c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("adcKernel", kernel, classOf[AdcKernel].getName)
    nullSafeCodeGen(ctx, ev, (cl, c) => s"${ev.value} = $k.score($cl, $c);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "adc_score_clustered"
}

case class AdcScoreDirect(first: Expression, second: Expression, third: Expression,
    kernel: PqKernel) extends TernaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Vec, Int32, Bin)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(q: Any, cl: Any, c: Any): Any =
    kernel.adcDirect(q.asInstanceOf[ArrayData], cl.asInstanceOf[Int],
      c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("pqKernel", kernel, classOf[PqKernel].getName)
    nullSafeCodeGen(ctx, ev, (q, cl, c) => s"${ev.value} = $k.adcDirect($q, $cl, $c);")
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
  override def prettyName: String = "adc_score_direct"
}

case class AdcScoreBatch(first: Expression, second: Expression, third: Expression,
    kernel: BatchAdcKernel) extends TernaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Int64, Int32, Bin)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(qid: Any, cl: Any, c: Any): Any =
    kernel.score(qid.asInstanceOf[Long], cl.asInstanceOf[Int], c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("adcKernel", kernel, classOf[BatchAdcKernel].getName)
    nullSafeCodeGen(ctx, ev, (qid, cl, c) => s"${ev.value} = $k.score($qid, $cl, $c);")
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
  override def prettyName: String = "adc_score_batch"
}

/** Hashing-trick embed accumulator over Tungsten `ArrayData` — one pass
  * over the token hashes into a primitive accumulator. Per-element
  * semantics mirror the aggregate chain this replaced exactly: a null
  * element or one whose `h mod dim` falls outside [0, dim) (negative h —
  * impossible for md5-derived hash60, but the old `=== i` comparison
  * matched nothing for it) contributes 0. ONE deliberate whole-row
  * deviation: a NULL hash array (null input text) embeds as SQL NULL —
  * the chain produced a non-null array of `dim` null elements, a shape
  * no consumer can use and the declared `containsNull = false` element
  * type forbids; null-in/null-out is the honest contract (the corpus
  * text column is non-null, so the `tx_embed` oracle sees no change). */
final class HashEmbedKernel(val dim: Int) extends Serializable {
  require(dim > 0, s"embedding dim must be positive, got $dim")

  def embed(hs: ArrayData): ArrayData = {
    val acc = new Array[Double](dim)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        val h = hs.getLong(i)
        val b = (h % dim).toInt
        if (b >= 0) acc(b) += (if (((h >> 8) & 1L) == 1L) 1.0 else -1.0)
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(acc)
  }
}

/** All-components PCA projection of one NORMALIZED vector — one fused
  * O(dim·R) loop, bit-identical to the SQL mirror's left-associated
  * chains: nrm = sqrt(v₀² + v₁² + …) (zero → divide by 1), then
  * p_r = ((v₀/nrm − m₀)·c_r0 + (v₁/nrm − m₁)·c_r1 + …) in index order.
  * Exists because the chain spelled as 16 × 64-term Column expressions
  * overflowed janino's 64 KB method limit and dropped the whole
  * projection stage to interpreted evaluation (measured in the round-15
  * layout build); the kernel keeps the stage inside codegen at O(1)
  * generated-code size, the [[HashEmbedKernel]] argument. */
final class PcaKernel(val mean: Array[Double],
    val components: Array[Array[Double]]) extends Serializable {
  private val dim = mean.length
  def project(v: ArrayData): ArrayData = {
    if (v.numElements() < dim)
      throw new IllegalArgumentException(
        s"vector of ${v.numElements()} elements is shorter than the model dimension $dim")
    var n = 0.0
    var i = 0
    while (i < dim) { val x = v.getDouble(i); n += x * x; i += 1 }
    val n0 = math.sqrt(n)
    val nrm = if (n0 == 0.0) 1.0 else n0
    val out = new Array[Double](components.length)
    var r = 0
    while (r < components.length) {
      val c = components(r)
      var s = 0.0
      i = 0
      while (i < dim) { s += (v.getDouble(i) / nrm - mean(i)) * c(i); i += 1 }
      out(r) = s
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Per-row bigram-LM score under a FROZEN [[graft.text.NgramLm]] model —
  * (n_bigrams, nll_q) as a 2-long array, for the stateless streaming gate
  * ([[graft.streaming.StreamingIngest.lmGateStream]]): the pair table is
  * up to B² entries, far past array-literal territory, so it rides as a
  * reference object in one fused kernel instead (the [[PcaKernel]]
  * pattern). Hashing matches the engine/SQL convention exactly —
  * [[TextKernels.hash60]] of "lm:"+token, mod B — and the weight sum
  * is integer, so the kernel's output equals [[graft.text.NgramLm.score]]
  * value-for-value on the same row (StreamingSpec-gated). */
final class LmScoreKernel(val pairs: java.util.HashMap[java.lang.Long, java.lang.Long],
    val ctxDefault: Array[Long], val b: Int) extends Serializable {
  private def bucket(tok: String): Int = (TextKernels.hash60("lm:" + tok) % b).toInt
  def score(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1)
    var n = 0L
    var z = 0L
    if (toks.length >= 2) {
      var b1 = bucket(toks(0))
      var i = 1
      while (i < toks.length) {
        val b2 = bucket(toks(i))
        val w = pairs.get((b1.toLong << 32) | b2.toLong)
        z += (if (w ne null) w.longValue() else ctxDefault(b1))
        n += 1L
        b1 = b2
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(Array(n, z))
  }
}

case class LmScore(child: Expression, kernel: LmScoreKernel)
    extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Some(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(t: Any): Any =
    kernel.score(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("lmKernel", kernel, classOf[LmScoreKernel].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $k.score($t);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "lm_score"
}

case class PcaProjectAll(child: Expression, kernel: PcaKernel)
    extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Vec)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any = kernel.project(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("pcaKernel", kernel, classOf[PcaKernel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $k.project($v);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "pca_project"
}

case class HashEmbed(child: Expression, kernel: HashEmbedKernel)
    extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Some(ArrayType(LongType)))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(hs: Any): Any = kernel.embed(hs.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("embedKernel", kernel, classOf[HashEmbedKernel].getName)
    nullSafeCodeGen(ctx, ev, hs => s"${ev.value} = $k.embed($hs);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "hash_embed"
}

/** Scalar-quantization kernel ([[graft.pq.ScalarQuantizer]]): encode and
  * reconstruct are the quantizer's own affine maps; `score` is the exact
  * cosine of the reconstruction against a fixed query, written as the
  * term-for-term JVM mirror of the oracle's SQL expansion
  * ([[graft.queries.OracleSql.cosineCols]] — left-associated dot/norms,
  * zero-norm guard), so the serving query stays hash-gated. */
final class SqKernel(val sq: graft.pq.ScalarQuantizer,
    val query: Array[Double]) extends Serializable {

  // sqrt(Σ q_i², left-associated) — the oracle's nB term, precomputed once.
  private val normQ: Double =
    if (query == null) 0.0
    else {
      var s = 0.0; var i = 0
      while (i < query.length) { s += query(i) * query(i); i += 1 }
      math.sqrt(s)
    }

  def encode(v: ArrayData): Array[Byte] = {
    if (v.numElements() < sq.dim)
      throw new IllegalArgumentException(
        s"vector of ${v.numElements()} elements is shorter than the SQ dimension ${sq.dim}")
    val r = new Array[Double](sq.dim)
    var i = 0
    while (i < r.length) { r(i) = v.getDouble(i); i += 1 }
    sq.encode(r)
  }

  def decode(code: Array[Byte]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(sq.decode(checked(code)))

  private def checked(code: Array[Byte]): Array[Byte] = {
    if (code.length != sq.dim)
      throw new IllegalArgumentException(
        s"sq_code of ${code.length} bytes does not match the model's dim=${sq.dim}")
    code
  }

  def score(code: Array[Byte]): Double = {
    checked(code)
    val d = sq.dim
    var dot = 0.0; var nr = 0.0
    var i = 0
    while (i < d) {
      dot += (sq.mins(i) + (code(i) & 0xFF).toDouble * sq.steps(i)) * query(i); i += 1
    }
    i = 0
    while (i < d) {
      val r = sq.mins(i) + (code(i) & 0xFF).toDouble * sq.steps(i)
      nr += r * r; i += 1
    }
    val sr = math.sqrt(nr)
    if (sr == 0.0 || normQ == 0.0) 0.0 else dot / (sr * normQ)
  }
}

case class SqEncode(child: Expression, kernel: SqKernel)
    extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Vec)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any = kernel.encode(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("sqKernel", kernel, classOf[SqKernel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $k.encode($v);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "sq_encode"
}

case class SqDecode(child: Expression, kernel: SqKernel)
    extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Bin)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(c: Any): Any = kernel.decode(c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("sqKernel", kernel, classOf[SqKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $k.decode($c);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "sq_decode"
}

case class SqScore(child: Expression, kernel: SqKernel)
    extends UnaryExpression with KernelInputCheck {
  override protected def expected: Seq[Option[DataType]] = Seq(Bin)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(c: Any): Any = kernel.score(c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("sqKernel", kernel, classOf[SqKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $k.score($c);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "sq_score"
}
