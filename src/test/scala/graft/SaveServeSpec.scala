package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.api.VectorDb

/** After `save` the facade serves from the files it just wrote: brute force
  * and IVF scan the cached re-read of the save directory, not the rows each
  * `batchInsert` shipped from the driver, and answer exactly as before. */
class SaveServeSpec extends SparkSpec {

  private val Dim = 8

  private def rows(n: Int, seed: Long): Seq[(Seq[Double], Map[String, String])] = {
    val rng = new java.util.Random(seed)
    val centres = Array.fill(4)(Array.fill(Dim)(rng.nextGaussian() * 5))
    (0 until n).map(i => (centres(i % 4).toSeq.map(_ + rng.nextGaussian()),
      Map("category" -> (i % 3).toString)))
  }

  /** A facade over 2000 rows inserted in 4 chunks, as a session builds one. */
  private def chunked(): VectorDb = {
    val db = new VectorDb(spark, Dim)
    rows(2000, 7).grouped(500).foreach(db.batchInsert)
    db
  }

  private val qs = (0 until 4).map { s =>
    val rng = new java.util.Random(100L + s)
    Seq.fill(Dim)(rng.nextGaussian() * 5)
  }

  private def pairs(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("sim"))).toSeq

  private def brute(db: VectorDb) = qs.map(q => pairs(db.bruteForceSearch(q, 10)))
  private def ivf(db: VectorDb) = qs.map(q => pairs(db.ivfSearch(q, 10)))

  /** Every RDD the executed plan depends on, shuffle map sides and cached
    * relations' source plans included. */
  private def lineage(df: DataFrame): Seq[RDD[_]] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[Int, RDD[_]]
    def walk(r: RDD[_]): Unit = if (!seen.contains(r.id)) {
      seen(r.id) = r
      r.dependencies.foreach(d => walk(d.rdd))
    }
    walk(df.queryExecution.toRdd)
    seen.values.toSeq
  }

  /** `parallelize`'s RDD (private to Spark), whose partitions hold the rows. */
  private def shipsRows(r: RDD[_]): Boolean =
    r.getClass.getSimpleName == "ParallelCollectionRDD"

  private def assertNoDriverRows(what: String, df: DataFrame): Unit = {
    val shipped = lineage(df).filter(shipsRows)
    assert(shipped.isEmpty, s"$what still ships inserted rows: ${shipped.mkString(", ")}")
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/db"

  /** Cached RDDs in the session: one per cached table. */
  private def cachedCopies: Int = spark.sparkContext.getPersistentRDDs.size

  test("after save, brute force and IVF (built before or after) scan the saved files with identical answers") {
    val before = chunked()
    before.buildIvfIndex(k = 4)
    val bruteBefore = brute(before)
    val ivfBefore = ivf(before)
    assert(bruteBefore.forall(_.length == 10) && ivfBefore.forall(_.length == 10))
    assert(lineage(before.bruteForceSearch(qs.head, 10))
      .exists(shipsRows), "premise: inserts ship rows")

    before.save(tempDir("graft_save_serve_a"))
    val after = chunked()
    after.save(tempDir("graft_save_serve_b"))
    after.buildIvfIndex(k = 4)
    for (db <- Seq(before, after); q <- qs) {
      assertNoDriverRows("bruteForceSearch", db.bruteForceSearch(q, 10))
      assertNoDriverRows("ivfSearch", db.ivfSearch(q, 10))
    }
    for (db <- Seq(before, after)) {
      assert(brute(db) === bruteBefore)
      assert(ivf(db) === ivfBefore)
    }

    // the cache is only a cache: evicted, the facades recompute from their files
    spark.catalog.clearCache()
    for (db <- Seq(before, after)) {
      assert(brute(db) === bruteBefore)
      assert(ivf(db) === ivfBefore)
    }
  }

  test("saving twice onto one directory, and a loaded db saving onto its own, keep one cached copy") {
    spark.catalog.clearCache()
    val db = chunked()
    val expected = brute(db)
    val dir = tempDir("graft_save_serve_twice")
    db.save(dir)
    assert(cachedCopies === 1)
    db.save(dir)
    assert(cachedCopies === 1)
    assert(brute(db) === expected)
    db.delete(0L)
    db.insert(Seq.fill(Dim)(1.0))
    val mutated = brute(db)
    db.save(dir)
    assert(cachedCopies === 1)
    assert(brute(db) === mutated)
    assert(db.count() === 2000)

    val loaded = VectorDb.load(spark, dir, Dim)
    assert(brute(loaded) === mutated)
    loaded.save(dir)
    assert(cachedCopies === 1)
    assert(brute(loaded) === mutated)
    assert(brute(VectorDb.load(spark, dir, Dim)) === mutated)
  }

  test("a fresh facade's save writes its inserted rows without caching them first") {
    val db = chunked()
    db.buildIvfIndex(k = 4)
    val expected = (brute(db), ivf(db))
    // per job of the save, in order: its call site and whether any of its
    // stages reads or builds a cached RDD
    val jobs = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        jobs += ((e.stageInfos.maxBy(_.stageId).name,
          e.stageInfos.exists(_.rddInfos.exists(_.storageLevel.isValid))))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      db.save(tempDir("graft_save_fresh"))
      org.apache.spark.grafttest.ListenerBridge.waitUntilEmpty(spark.sparkContext, 30000)
    } finally spark.sparkContext.removeSparkListener(listener)
    val seen = listener.synchronized(jobs.toList)
    // the re-reads of the saved files are cached and counted last; every
    // job before the first count writes straight from the inserted rows
    val firstCount = seen.indexWhere(_._1.startsWith("count at"))
    assert(firstCount > 0, s"the save caches before it writes: $seen")
    assert(seen.take(firstCount).forall(!_._2), s"a write read or built a cache: $seen")
    assert((brute(db), ivf(db)) === expected)
  }

  test("batchInsert adds no empty partitions: 10 single-row inserts add 10") {
    val db = new VectorDb(spark, Dim)
    val start = db.toDf.rdd.getNumPartitions
    rows(10, 3).foreach { case (v, m) => db.insert(v, m) }
    assert(db.toDf.rdd.getNumPartitions - start === 10)
    assert(db.count() === 10)
  }
}
