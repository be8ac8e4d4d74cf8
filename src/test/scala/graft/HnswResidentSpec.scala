package graft

import graft.api.VectorDb

/** The facade's resident HNSW graphs: concurrent clients share them
  * safely, and no rebuild, maintenance pass or load ever serves a graph
  * from an earlier layout. */
class HnswResidentSpec extends SparkSpec {

  private val Dim = 16

  private def rows(n: Int, seed: Long): Seq[(Seq[Double], Map[String, String])] = {
    val rng = new java.util.Random(seed)
    val centres = Array.fill(8)(Array.fill(Dim)(rng.nextGaussian() * 5))
    (0 until n).map(i =>
      (centres(i % 8).toSeq.map(_ + rng.nextGaussian()), Map.empty[String, String]))
  }

  private def query(seed: Long): Seq[Double] = {
    val rng = new java.util.Random(seed)
    Seq.fill(Dim)(rng.nextGaussian() * 5)
  }

  private def answer(db: VectorDb, q: Seq[Double]): Seq[(Long, Double)] =
    db.hnswSearch(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** A facade over `db`'s live rows, in id order (ids line up when `db`
    * has had no deletes), with a routed index built like `db`'s. */
  private def fresh(db: VectorDb): VectorDb = {
    val twin = new VectorDb(spark, Dim)
    twin.batchInsert(db.toDf.collect().sortBy(_.getLong(0)).toSeq
      .map(r => (r.getSeq[Double](1), Map.empty[String, String])))
    twin.buildHnswIndex(numPartitions = 8, routed = true)
    twin
  }

  private val qs = (0 until 25).map(i => query(100L + i))

  test("8 threads x 25 hnswSearch calls on one facade equal the sequential answers") {
    val db = new VectorDb(spark, Dim)
    db.batchInsert(rows(3000, 1))
    db.buildHnswIndex(numPartitions = 8, routed = true)
    val expected = qs.map(answer(db, _))
    // rebuild (deterministic, same answers) so the threads also race to
    // create the resident graphs
    db.buildHnswIndex(numPartitions = 8, routed = true)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map(t => pool.submit(new java.util.concurrent.Callable[Seq[Int]] {
        def call(): Seq[Int] = (0 until 25).flatMap { i =>
          val j = (t + i) % qs.size
          if (answer(db, qs(j)) == expected(j)) None else Some(j)
        }
      }))
      val wrong = futures.flatMap(_.get())
      assert(wrong.isEmpty, s"concurrent answers differed for queries ${wrong.distinct}")
    } finally pool.shutdown()
  }

  test("a rebuild into the same scratch dir over different data serves the new graphs") {
    val db = new VectorDb(spark, Dim)
    db.batchInsert(rows(2000, 2))
    val scratch = java.nio.file.Files.createTempDirectory("graft_resident").toString + "/s"
    db.buildHnswIndex(numPartitions = 8, scratch = Some(scratch), routed = true)
    val before = qs.map(answer(db, _))
    // different data: a second mixture appended, some vectors moved
    db.batchInsert(rows(1000, 3))
    rows(10, 4).zipWithIndex.foreach { case ((v, _), i) => db.update(i.toLong, vector = Some(v)) }
    db.buildHnswIndex(numPartitions = 8, scratch = Some(scratch), routed = true)
    assert(db.hnswIndexPath.contains(s"$scratch/g"), "the rebuild must reuse the layout path")
    val after = qs.map(answer(db, _))
    assert(after !== before, "the data change must change the answers")
    val twin = fresh(db)
    assert(after === qs.map(answer(twin, _)))
  }

  test("a maintainIndexes rebuild serves the new graphs") {
    val db = new VectorDb(spark, Dim)
    db.batchInsert(rows(2000, 5))
    db.buildHnswIndex(numPartitions = 8, routed = true)
    qs.foreach(answer(db, _))
    db.batchInsert(rows(1000, 6))
    qs.foreach(answer(db, _)) // the merge path over the delta
    assert(db.maintainIndexes() === Seq("hnsw_rebuilt"))
    val twin = fresh(db)
    assert(qs.map(answer(db, _)) === qs.map(answer(twin, _)))
  }

  test("VectorDb.load over a re-saved directory serves the new graphs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_resident_load").toString + "/db"
    val first = new VectorDb(spark, Dim)
    first.batchInsert(rows(2000, 7))
    first.buildHnswIndex(numPartitions = 8, routed = true)
    first.save(dir)
    val loaded = VectorDb.load(spark, dir, Dim)
    val before = qs.map(answer(loaded, _))
    val second = new VectorDb(spark, Dim)
    second.batchInsert(rows(2000, 8))
    second.buildHnswIndex(numPartitions = 8, routed = true)
    second.save(dir)
    val reloaded = VectorDb.load(spark, dir, Dim)
    val after = qs.map(answer(reloaded, _))
    assert(after !== before, "the new data must change the answers")
    assert(after === qs.map(answer(fresh(reloaded), _)))
  }

  test("rebuilds do not accumulate persisted graph RDDs") {
    val db = new VectorDb(spark, Dim)
    db.batchInsert(rows(1000, 9))
    val scratch = java.nio.file.Files.createTempDirectory("graft_resident_rdds").toString + "/s"
    // strong references to every graph RDD seen: a dropped but still
    // persisted RDD cannot then be garbage-collected out of the count
    val seen = scala.collection.mutable.LinkedHashMap.empty[Int, org.apache.spark.rdd.RDD[_]]
    def rebuildAndServe(): (Int, Int) = {
      db.buildHnswIndex(numPartitions = 8, scratch = Some(scratch), routed = true)
      answer(db, qs.head)
      val rdds = spark.sparkContext.getPersistentRDDs.values
      val graphs = rdds.filter(r => Option(r.name).exists(_.endsWith(s"$scratch/g")))
      graphs.foreach(r => seen(r.id) = r)
      (rdds.size, graphs.size)
    }
    val (first, graphs) = rebuildAndServe()
    assert(graphs === 1)
    (0 until 3).foreach { _ =>
      val (n, g) = rebuildAndServe()
      assert(n <= first && g === 1, s"$n persisted RDDs (first $first), $g graph RDDs")
    }
    assert(seen.size === 4, "each rebuild restores its own graphs")
    assert(seen.values.init.forall(_.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE),
      "every replaced graph RDD is unpersisted")
  }
}
