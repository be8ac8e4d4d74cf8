package graft

import scala.util.chaining._

import org.apache.spark.sql.SparkSession

/** Dev scratch tool: splits build_hnsw_layout / build_hnsw_routed_layout
  * and the stored-serve entries into phases, to aim optimization at the
  * real cost. Run:
  * SPARK_GRAFT_SF_DIR=... sbt "Test/runMain graft.DevHnswStoreProfile". */
object DevHnswStoreProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .pipe(graft.search.IdFetch.configure)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def timed[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"PHASE $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val vecs = graft.model.VectorModel.lineitemVectors(spark, sfDir)
    timed("vecs.count (scan)") { vecs.count() }
    val p1 = graft.store.Fs.scratchDir(spark, "hnsw_prof_hash")
    timed("HnswStore.save (hash shards)") {
      graft.index.HnswStore.save(vecs, s"$p1/g")
    }
    val p2 = graft.store.Fs.scratchDir(spark, "hnsw_prof_routed")
    timed("Ivf.fit k=64 (routed fit alone)") {
      graft.index.Ivf.fit(vecs, "vector",
        k = graft.index.HnswStore.derivedShards(600572L,
          graft.index.HnswStore.RoutedTargetShardRows))
    }
    timed("HnswStore.saveRouted (fit + assign + graphs + write)") {
      graft.index.HnswStore.saveRouted(vecs, s"$p2/g")
    }
    timed("routedStats (two aggregates)") {
      graft.index.HnswStore.routedStats(spark, s"$p2/g")
    }
    timed("serve: search stored (first)") {
      graft.index.HnswStore.search(spark, s"$p1/g",
        graft.model.VectorModel.Query, 10).count()
    }
    timed("serve: search stored (second)") {
      graft.index.HnswStore.search(spark, s"$p1/g",
        graft.model.VectorModel.Query, 10).count()
    }
    spark.stop()
  }
}
