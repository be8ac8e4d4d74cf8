package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.model.VectorModel

/** Cosine-similarity properties (reference semantics,
  * vervectordb/__init__.py:31-36) + equivalence of the expanded and
  * higher-order-function formulations. */
class CosineSpec extends SparkSpec {

  test("expanded and HOF cosine agree bitwise on real vectors") {
    val df = VectorModel.lineitemVectors(spark, Sf0001).limit(500)
    val q = VectorModel.Query
    val both = df.select(
      VectorFunctions.cosineConst(col("vector"), q).as("expanded"),
      VectorFunctions.cosineHof(col("vector"),
        array(q.map(lit): _*)).as("hof"))
    val mismatches = both.where(col("expanded") =!= col("hof")).count()
    assert(mismatches === 0)
  }

  test("fused cosine_sim expression agrees bitwise with the expanded form") {
    val df = VectorModel.lineitemVectors(spark, Sf0001)
    val q = VectorModel.Query
    val both = df.select(
      VectorFunctions.cosineConst(col("vector"), q).as("expanded"),
      graft.GraftExtensions.cosineSim(col("vector"), array(q.map(lit): _*)).as("fused"),
      VectorFunctions.cosineQuery(col("vector"), q).as("served"))
    assert(both.where(col("expanded") =!= col("fused")).count() === 0)
    assert(both.where(col("expanded") =!= col("served")).count() === 0)
  }

  test("cosine_sim is callable from SQL and zero-norm guarded") {
    VectorModel.lineitemVectors(spark, Sf0001).limit(5).createOrReplaceTempView("cs_v")
    val out = spark.sql(
      "SELECT cosine_sim(vector, vector) AS s, cosine_sim(array(0.0D), array(0.0D)) AS z FROM cs_v")
      .collect()
    assert(out.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9 && r.getDouble(1) === 0.0))
  }

  test("dot_product and l2_distance agree with their built-in formulations and serve from SQL") {
    val df = VectorModel.lineitemVectors(spark, Sf0001).limit(500)
    val q = VectorModel.Query
    val qc = array(q.map(lit): _*)
    // reference formulations from built-in higher-order functions
    val dotRef = aggregate(zip_with(col("vector"), qc, (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    val l2Ref = sqrt(aggregate(zip_with(col("vector"), qc, (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x))
    val both = df.select(
      dotRef.as("dot_ref"),
      graft.GraftExtensions.dotProduct(col("vector"), qc).as("dot_fused"),
      l2Ref.as("l2_ref"),
      graft.GraftExtensions.l2Distance(col("vector"), qc).as("l2_fused"))
    // =!= is null-blind (NULL comparisons filter out), so also pin the
    // row count and non-nullness — a null-producing regression can't hide
    assert(both.count() === 500)
    assert(both.where(col("dot_fused").isNull || col("l2_fused").isNull).count() === 0)
    assert(both.where(col("dot_ref") =!= col("dot_fused")).count() === 0)
    // l2: sqrt-of-sum is the same accumulation order in both forms
    assert(both.where(abs(col("l2_ref") - col("l2_fused")) > 1e-12).count() === 0)
    df.limit(5).createOrReplaceTempView("vd_v")
    val sql = spark.sql(
      "SELECT dot_product(vector, vector) AS d, l2_distance(vector, vector) AS z FROM vd_v")
      .collect()
    assert(sql.forall(r => r.getDouble(0) > 0.0 && r.getDouble(1) === 0.0))
  }

  test("cosine is bounded in [-1, 1]") {
    val df = VectorModel.lineitemVectors(spark, Sf0001)
    val out = df.select(VectorFunctions.cosineConst(col("vector"), VectorModel.Query).as("s"))
      .agg(min("s").as("mn"), max("s").as("mx")).collect()(0)
    assert(out.getDouble(0) >= -1.0 - 1e-12 && out.getDouble(1) <= 1.0 + 1e-12)
  }

  test("zero-norm vector yields similarity 0.0") {
    val df = spark.range(1).select(
      array(Seq.fill(8)(lit(0.0)): _*).as("vector"))
    val s = df.select(VectorFunctions.cosineConst(col("vector"), VectorModel.Query).as("s"))
      .collect()(0).getDouble(0)
    assert(s === 0.0)
  }

  test("zero-norm query yields similarity 0.0 (cols variant)") {
    val df = spark.range(1).select(
      array((1 to 8).map(i => lit(i.toDouble)): _*).as("a"),
      array(Seq.fill(8)(lit(0.0)): _*).as("b"))
    val s = df.select(VectorFunctions.cosineCols(col("a"), col("b"), 8).as("s"))
      .collect()(0).getDouble(0)
    assert(s === 0.0)
  }

  test("cosine of a vector with itself is 1.0") {
    val df = VectorModel.lineitemVectors(spark, Sf0001).limit(100)
    val bad = df.select(VectorFunctions.cosineCols(col("vector"), col("vector"), 8).as("s"))
      .where(abs(col("s") - 1.0) > 1e-9).count()
    assert(bad === 0)
  }
}
