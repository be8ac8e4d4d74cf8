package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native Catalyst expression: cosine similarity of two ARRAY<DOUBLE>
  * columns in a single fused loop (dot product and both norms accumulated
  * together), with full whole-stage codegen via [[doGenCode]].
  *
  * Semantics match [[VectorFunctions.cosineCols]] bit-for-bit: sequential
  * left-to-right accumulation and the reference's zero-norm → 0.0 guard
  * (vervectordb/__init__.py:31-36), so the DuckDB oracle mirror stays
  * valid. Compared to the expanded built-in formulation this reads each
  * element once instead of four times — the hot-path form for wide
  * embedding columns, and the scorer of every single-query serve
  * ([[VectorFunctions.cosineQuery]]). Input/null contract lives on [[VectorBinaryMetric]]
  * (shared with dot_product/l2_distance).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryMetric {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    val nxs = math.sqrt(nx); val nys = math.sqrt(ny)
    if (nxs == 0.0 || nys == 0.0) 0.0 else dot / (nxs * nys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val nxs = ctx.freshName("nxs")
      val nys = ctx.freshName("nys")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i);
         |  double $yv = $b.getDouble($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |double $nxs = java.lang.Math.sqrt($nx);
         |double $nys = java.lang.Math.sqrt($ny);
         |${ev.value} = ($nxs == 0.0 || $nys == 0.0) ? 0.0 : $dot / ($nxs * $nys);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

  override def prettyName: String = "cosine_sim"
}

