package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** The sign-LSH probe walk (Multi-Probe LSH, Lv et al., VLDB 2007): the
  * one implementation behind every [[graft.index.LshAnn.ProbeRule]], run
  * on the driver for the collected serves (`probeSets(Array[Double])`)
  * and per query ROW inside codegen for the big-batch serve
  * ([[LshProbeSets]]).
  *
  *  1. per-table bit margins — `dot(plane, q) - bias`, summed in
  *     ascending-dimension order;
  *  2. per-table cost-ranked bucket stream — every ≤`maxFlips`-bit flip
  *     mask of the query's own bucket, cost = Σ|margin| over flipped bits
  *     (ascending bit order), sorted by (cost, mask) with
  *     `java.lang.Double.compare`, truncated to `maxProbesPerTable`;
  *  3. one merged ascending-(cost, table, bucket) walk over all tables'
  *     streams, stopping once the probed buckets' cumulative row count
  *     (`sizes(table)(bucket)`, 0 past the end of an array) reaches
  *     `minCandidates`, with every table's rank-0 own bucket always
  *     included.
  *
  * With `minCandidates = Long.MaxValue` the walk never stops, so each
  * table probes exactly the `maxProbesPerTable` cheapest buckets of its
  * stream — the directed rule. LshProbeRuleSpec checks both uses against
  * a reference walk written out in the spec.
  *
  * The flip-mask list (≈Σ C(bits, 0..maxFlips) entries) is enumerated once
  * at kernel construction; per query the kernel computes `tables·bits`
  * plane dots, scores the mask list per table, and sorts two ≤few-hundred
  * entry arrays — O(masks·log masks), independent of corpus size.
  * Probes are returned PACKED as `(table << PackShift) | bucket` ints
  * (bucket < 2^[[graft.index.LshAnn.MaxBits]] ≤ 2^PackShift by
  * construction) so one `explode` + two bit-ops recover the
  * (table, bucket) join keys.
  */
final class LshProbeKernel(
    planes: Array[Array[Array[Double]]],
    biases: Array[Array[Double]],
    sizes: Array[Array[Long]],
    minCandidates: Long,
    maxProbesPerTable: Int,
    maxFlips: Int) extends Serializable {

  private val numTables = planes.length
  private val numBits = planes(0).length
  private val dim = planes(0)(0).length
  require(numBits <= LshProbeKernel.PackShift,
    s"numBits=$numBits exceeds the ${LshProbeKernel.PackShift}-bit pack width")

  /** Ascending ≤`maxFlips`-bit flip masks (mask 0 first: the own bucket). */
  private val masks: Array[Int] =
    (0 until (1 << numBits)).filter(m => Integer.bitCount(m) <= maxFlips).toArray

  def probeSets(v: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(probeSets(v.toDoubleArray()))

  /** The packed probes of query `q`, in merged-walk order. */
  def probeSets(q: Array[Double]): Array[Int] = {
    if (q.length < dim)
      throw new IllegalArgumentException(
        s"vector of ${q.length} elements is shorter than the model dimension $dim")
    val nm = masks.length
    val take = math.min(nm, maxProbesPerTable)
    // merged entries across tables: (cost, rank, table, bucket)
    val entN = take * numTables
    val eCost = new Array[Double](entN)
    val eRank = new Array[Int](entN)
    val eTable = new Array[Int](entN)
    val eBucket = new Array[Int](entN)
    val margins = new Array[Double](numBits)
    val mCost = new Array[Double](nm)
    var e = 0
    var t = 0
    while (t < numTables) {
      val tp = planes(t); val tb = biases(t)
      var b = 0
      while (b < numBits) {
        val p = tp(b)
        var dot = 0.0; var i = 0
        while (i < dim) { dot += p(i) * q(i); i += 1 }
        margins(b) = dot - tb(b)
        b += 1
      }
      var qb = 0
      b = 0
      while (b < numBits) { if (margins(b) > 0) qb |= 1 << b; b += 1 }
      var m = 0
      while (m < nm) {
        val mask = masks(m)
        var cost = 0.0
        b = 0
        while (b < numBits) {
          if ((mask & (1 << b)) != 0) cost += math.abs(margins(b))
          b += 1
        }
        mCost(m) = cost
        m += 1
      }
      // rank by (cost, mask) — masks are ascending, so equal costs keep
      // mask order under a stable sort keyed on cost alone; the explicit
      // mask tiebreak keeps this independent of sort stability
      val idx = new Array[Integer](nm)
      m = 0
      while (m < nm) { idx(m) = Integer.valueOf(m); m += 1 }
      java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
        override def compare(a: Integer, c: Integer): Int = {
          val d = java.lang.Double.compare(mCost(a), mCost(c))
          if (d != 0) d else Integer.compare(masks(a), masks(c))
        }
      })
      var r = 0
      while (r < take) {
        val mi = idx(r)
        eCost(e) = mCost(mi)
        eRank(e) = r
        eTable(e) = t
        eBucket(e) = qb ^ masks(mi)
        e += 1
        r += 1
      }
      t += 1
    }
    // merged ascending-(cost, table, bucket) walk
    val order = new Array[Integer](entN)
    var i = 0
    while (i < entN) { order(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(order, new java.util.Comparator[Integer] {
      override def compare(a: Integer, c: Integer): Int = {
        val d = java.lang.Double.compare(eCost(a), eCost(c))
        if (d != 0) d
        else {
          val dt = Integer.compare(eTable(a), eTable(c))
          if (dt != 0) dt else Integer.compare(eBucket(a), eBucket(c))
        }
      }
    })
    val out = new Array[Int](entN)
    var o = 0
    var cum = 0L
    i = 0
    while (i < entN) {
      val en = order(i)
      if (eRank(en) == 0 || cum < minCandidates) {
        val tt = eTable(en); val bb = eBucket(en)
        out(o) = (tt << LshProbeKernel.PackShift) | bb
        o += 1
        if (tt < sizes.length) {
          val ts = sizes(tt)
          if (bb < ts.length) cum += ts(bb)
        }
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, o)
  }
}

object LshProbeKernel {
  /** Bucket bits of the packed probe int — fits any bucket up to
    * [[graft.index.LshAnn.MaxBits]] wide. */
  val PackShift = 20
}

/** `lsh_probe_sets(qvec)` — the packed (table, bucket) probe list of
  * [[LshProbeKernel]], as a codegen'd expression (the
  * [[ProbeClusters]] pattern: reference-object method call inside
  * whole-stage codegen, no UDF node). */
case class LshProbeSets(child: Expression, kernel: LshProbeKernel)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"argument 1 of $prettyName requires array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    kernel.probeSets(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("lshProbeKernel", kernel,
      classOf[LshProbeKernel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $k.probeSets($v);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "lsh_probe_sets"
}

object LshProbeExpressions {
  /** Column wrapper (the [[ModelExpressions]] convention — cast resolves
    * FLOAT/nullable embedding columns onto the kernel's contract). */
  def probeSets(vec: Column, kernel: LshProbeKernel): Column =
    ColumnBridge.column(LshProbeSets(
      ColumnBridge.expression(vec.cast("array<double>")), kernel))
}
