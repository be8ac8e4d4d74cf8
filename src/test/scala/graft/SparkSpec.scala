package graft

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base — one SparkSession per suite (lazy), config matching
  * the driver contract (Verify/Bench builders). */
trait SparkSpec extends AnyFunSuite {

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .pipe(graft.search.IdFetch.configure)
    .config("spark.sql.warehouse.dir", s"/tmp/graft_warehouse_${java.util.UUID.randomUUID()}")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Bytecode size of the largest generated method over every whole-stage
    * codegen stage of `df`'s final adaptive plan (`df` is collected first
    * so AQE settles that plan). HotSpot never JIT-compiles a method over
    * [[HugeMethodBytes]], so a stage above it runs in the interpreter. */
  def maxCodegenMethodBytes(df: DataFrame): Int = {
    df.collect()
    val stages = SparkSpec.planHelper.collectWithSubqueries(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w
    }
    assert(stages.nonEmpty, s"no whole-stage codegen in\n${df.queryExecution.executedPlan}")
    stages.map(w => CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize).max
  }

  /** HotSpot's `-XX:+DontCompileHugeMethods` limit, in bytes. */
  val HugeMethodBytes = 8000
}

object SparkSpec {
  private val planHelper = new AdaptiveSparkPlanHelper {}
}
