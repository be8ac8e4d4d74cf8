package graft

import scala.util.chaining._

import org.apache.spark.sql.SparkSession

/** Time one registered query in isolation (cold JVM, no other entries):
  * `Test/runMain graft.DevTimeOne <sfDir> <entry> [reps] [count|noop]`.
  * The default `count` sink lets Catalyst prune every output column;
  * `noop` writes all of them to the no-op sink, so the time covers each
  * column's kernel. Used for
  * noise-attribution when a bench reading moves with no code change on
  * the path (the full Bench shares one JVM across ~124 entries, so JIT
  * state and GC pressure at an entry's slot shift whenever entries are
  * added around it). */
object DevTimeOne {
  def main(args: Array[String]): Unit = {
    val dir = args(0); val entry = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val noop = args.length > 3 && args(3) == "noop"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("DevTimeOne")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .pipe(graft.search.IdFetch.configure)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    val q = SparkEntry.queries(entry)
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val df = q(spark, dir)
      val sink = if (noop) { df.write.format("noop").mode("overwrite").save(); "noop sink" }
        else s"${df.count()} rows"
      println(f"DEVTIME $entry rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($sink)")
    }
    spark.stop()
  }
}
