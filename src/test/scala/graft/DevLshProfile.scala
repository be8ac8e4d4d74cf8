package graft

import org.apache.spark.sql.SparkSession

import graft.index.LshAnn
import graft.model.VectorModel

/** Dev probe: where does stored-LSH serving time go? Times the layout
  * build, then single/batch stored serving under three read strategies —
  * fresh `spark.read.parquet` per call (the memo contract), a reused
  * DataFrame, and the probe jobs separately (homes-collect vs final) — so
  * a serving regression can be attributed to file listing, the pointer
  * fetch, or the re-rank. One JSON line on stdout. */
object DevLshProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def t[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f; ((System.nanoTime() - t0) / 1e9, a)
    }

    val emb = VectorModel.embeddings(spark, sfDir)
    val p = graft.store.Fs.scratchDir(spark, "graft_lsh_profile") + "/t"

    // build decomposition: mean pass / bucket compute / explode / write
    val (meanSec, center) = t(LshAnn.meanVector(emb, "embedding", VectorModel.EmbDim))
    val model0 = LshAnn.tables(LshAnn.DefaultTables, LshAnn.DefaultBits,
      VectorModel.EmbDim, center)
    val bucketed0 = LshAnn.withTableBuckets(emb, "embedding", model0)
    val (bucketSec, _) = t(bucketed0.count())
    val (bucketSec2, _) = t(bucketed0.count())
    val (flatWriteSec, _) = t(bucketed0
      .write.mode("overwrite").parquet(p + "_flat"))

    val (buildSec, model) = t(LshAnn.saveBucketed(emb, "embedding", "vec_id",
      p, VectorModel.EmbDim))
    Console.err.println(f"BUILD_DECOMP mean=$meanSec%.1f bucket_count=$bucketSec%.1f " +
      f"bucket_count2=$bucketSec2%.1f flat_write=$flatWriteSec%.1f full_build=$buildSec%.1f")

    val (readSec, layout) = t { val df = spark.read.parquet(p); df.schema; df }
    // is the fresh-read cost schema inference (footer read) or the
    // partition-dir listing? an explicit schema skips only the former
    val (readSchemaSec, _) = t {
      val df = spark.read.schema(layout.schema).parquet(p); df.rdd.partitions.length
    }
    Console.err.println(f"READ_DECOMP discover=$readSec%.1f explicit_schema=$readSchemaSec%.1f")
    val (serve1Sec, n1) = t(LshAnn.searchStored(layout, model,
      VectorModel.AnnQuery, 20, vecCol = "embedding", idCol = "vec_id").count())
    // second serve on a FRESH read — isolates listing/plan cost from data
    val (serve2Sec, _) = t(LshAnn.searchStored(spark.read.parquet(p), model,
      VectorModel.AnnQuery, 20, vecCol = "embedding", idCol = "vec_id").count())
    // reused frame, third serve — steady-state
    val (serve3Sec, _) = t(LshAnn.searchStored(layout, model,
      VectorModel.AnnQuery, 20, vecCol = "embedding", idCol = "vec_id").count())
    val queries = (0 until 3).map(s => (s.toLong, VectorModel.syntheticQuery(s)))
    val (batchSec, nb) = t(LshAnn.batchSearchStored(layout, model, queries, 5,
      vecCol = "embedding", idCol = "vec_id").count())
    // the ADAPTIVE serving default (ann_lsh_topk shape): sizes memo warm
    // (build-time state), then first + steady-state serve
    val (sizesSec, sizes) = t(LshAnn.bucketSizes(layout))
    val (adapt1Sec, na) = t(LshAnn.searchStored(layout, model, VectorModel.AnnQuery,
      20, LshAnn.Adaptive(sizes), vecCol = "embedding", idCol = "vec_id").count())
    val (adapt2Sec, _) = t(LshAnn.searchStored(layout, model, VectorModel.AnnQuery,
      20, LshAnn.Adaptive(sizes), vecCol = "embedding", idCol = "vec_id").count())
    val (adaptBatchSec, nab) = t(LshAnn.batchSearchStored(layout, model, queries,
      5, LshAnn.Adaptive(sizes, 140), vecCol = "embedding", idCol = "vec_id").count())

    println(s"""{"sf":"$sfDir","build_sec":$buildSec,"read_sec":$readSec,""" +
      s""""serve1_sec":$serve1Sec,"serve2_fresh_read_sec":$serve2Sec,""" +
      s""""serve3_reused_sec":$serve3Sec,"batch_sec":$batchSec,""" +
      s""""sizes_sec":$sizesSec,"adapt1_sec":$adapt1Sec,"adapt2_sec":$adapt2Sec,""" +
      s""""adapt_batch_sec":$adaptBatchSec,""" +
      s""""rows1":$n1,"rows_batch":$nb,"rows_adapt":$na,"rows_adapt_batch":$nab}""")
    spark.stop()
  }
}
