package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._

/** The two evaluation modes the kernel parity specs run under, and an
  * (id, text) frame that keeps projections out of optimizer-time folding. */
trait KernelModes extends SparkSpec with AdaptiveSparkPlanHelper {

  protected val Codegen = "whole-stage codegen"

  /** Codegen mode fails on a compile error instead of falling back. */
  protected val Modes: Seq[(String, Seq[(String, String)])] = Seq(
    Codegen -> Seq(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  protected def withConf[T](kv: Seq[(String, String)])(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Collects `df`, checking the plan ran in the mode under test. */
  protected def run(mode: String, df: DataFrame): Array[Row] = {
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan
    assert(find(plan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined === (mode == Codegen),
      plan.treeString)
    rows
  }

  protected def frame(texts: Seq[String], idOf: Int => Long = _.toLong): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    // an RDD, not a local relation: ConvertToLocalRelation would evaluate
    // the projections at optimization time and bypass codegen
    spark.createDataFrame(spark.sparkContext.parallelize(
      texts.zipWithIndex.map { case (t, i) => Row(idOf(i), t) }, 4), schema)
  }
}
