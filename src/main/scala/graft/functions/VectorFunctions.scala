package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Vector scalar functions over `ARRAY<FLOAT|DOUBLE>` columns.
  *
  * Serving scores a row against a query through [[cosineQuery]]: the fused
  * [[CosineSimilarity]] kernel with the query passed as ONE array literal,
  * so the compiled plan is the same for every query.
  *
  * The other formulations expand to built-in Catalyst expressions
  * (element_at, arithmetic, sqrt) so they stay inside whole-stage codegen —
  * no UDFs. Sums are left-associated, matching the DuckDB oracle's expanded
  * SQL term-for-term, so double results are bit-identical across engines.
  * [[cosineConst]] is that expanded mirror of [[cosineQuery]]: CosineSpec
  * pins the two bitwise against each other and the SQL oracle.
  *
  * Cosine semantics mirror the reference (vervectordb/__init__.py:31-36):
  * zero-norm input → similarity 0.0.
  */
object VectorFunctions {

  private def elem(vec: Column, i: Int): Column =
    element_at(vec, i + 1).cast("double")

  /** Cosine similarity of an array column vs a constant query vector,
    * scored by the fused [[CosineSimilarity]] kernel. The query is one
    * `ARRAY<DOUBLE>` literal, which generated code reads through a
    * reference object rather than inlining its values: a new query reuses
    * the compiled plan from the codegen cache, and the optimizer sees a
    * handful of nodes instead of one per element. Built through
    * [[ColumnBridge]], so it needs no [[graft.GraftExtensions]] in the
    * session. Bit-identical to [[cosineConst]] (same accumulation order)
    * for a non-zero query; a zero-norm query scores 0.0 on every row. */
  def cosineQuery(vec: Column, q: Seq[Double]): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(vec.cast("array<double>")),
      Literal(UnsafeArrayData.fromPrimitiveArray(q.toArray),
        ArrayType(DoubleType, containsNull = false))))

  /** Dot product of an array column against a constant query vector. */
  def dotConst(vec: Column, q: Seq[Double]): Column =
    q.zipWithIndex.map { case (x, i) => elem(vec, i) * lit(x) }.reduceLeft(_ + _)

  /** L2 norm of the first `d` components of an array column. */
  def norm(vec: Column, d: Int): Column =
    sqrt((0 until d).map { i => elem(vec, i) * elem(vec, i) }.reduceLeft(_ + _))

  /** L2 norm of a constant vector, kept symbolic so Catalyst constant-folds
    * it to the same double the SQL oracle computes. */
  def normConst(q: Seq[Double]): Column =
    sqrt(q.map(x => lit(x) * lit(x)).reduceLeft(_ + _))

  /** Cosine similarity of an array column vs a constant query vector,
    * expanded element by element — the parity mirror of [[cosineQuery]]
    * and of the oracle's SQL expansion. Guards only the row norm, so a
    * zero-norm query divides by zero (an error under ANSI mode, NaN
    * without it); serving code uses [[cosineQuery]]. */
  def cosineConst(vec: Column, q: Seq[Double]): Column = {
    val n = norm(vec, q.length)
    when(n === 0.0, lit(0.0)).otherwise(dotConst(vec, q) / (n * normConst(q)))
  }

  /** Cosine similarity between two array columns of dimension `d`. */
  def cosineCols(a: Column, b: Column, d: Int): Column = {
    val dot = (0 until d).map(i => elem(a, i) * elem(b, i)).reduceLeft(_ + _)
    val na = norm(a, d)
    val nb = norm(b, d)
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot / (na * nb))
  }

  /** Dimension-agnostic cosine via SQL higher-order functions — for arrays
    * whose length is unknown at plan time. Accumulation is sequential
    * left-to-right, same as the expanded form. */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) = aggregate(
      zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(dot(a, a))
    val nb = sqrt(dot(b, b))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot(a, b) / (na * nb))
  }

  /** Euclidean (L2) distance between two array columns. */
  def l2Cols(a: Column, b: Column, d: Int): Column =
    sqrt((0 until d).map { i => val diff = elem(a, i) - elem(b, i); diff * diff }
      .reduceLeft(_ + _))
}
