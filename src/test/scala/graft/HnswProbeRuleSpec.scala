package graft

import graft.api.VectorDb
import graft.index.HnswStore
import graft.index.HnswStore.{Adaptive, AllShards, Nearest, ProbeRule}
import graft.model.VectorModel

/** One probe rule, two serving lifecycles: the one-shot serve and the
  * resident graphs answer identically under every rule, neither depends on
  * the build-parameter sidecar, and the facade probes its layout's default
  * rule whether the layout was just built or loaded. */
class HnswProbeRuleSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private val queries = (0 until 3).map(s =>
    Seq(25.0 + s, 30.0, 0.5, 0.5, 0.5, 0.5, 0.5, 1.0 + s)) :+ VectorModel.Query

  test("one-shot and resident serves return identical rows for every rule, with and without accept") {
    import org.apache.spark.sql.functions.col
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_rule").toString
    val path = s"$dir/g"
    HnswStore.saveRouted(vecs, path, numShards = 8, m = 24, efConstruction = 120)
    val accept = vecs.where(col("id") % 3 === 0)
      .select("id").collect().map(_.getLong(0)).toSet
    val rules: Seq[ProbeRule] =
      Seq(AllShards, Nearest(2), Adaptive(HnswStore.routedStats(spark, path)))
    def answers(serve: (Seq[Double], ProbeRule, Long => Boolean) => Seq[(Long, Double)]) =
      for (rule <- rules; acc <- Seq[Long => Boolean](null, accept.contains); q <- queries)
        yield serve(q, rule, acc)
    def oneShot = answers((q, rule, acc) =>
      pairs(HnswStore.search(spark, path, q, 10, rule, acc)))
    val expected = oneShot
    assert(expected.forall(_.length == 10))
    val graphs = HnswStore.resident(spark, path)
    try assert(answers((q, rule, acc) => pairs(graphs.search(q, 10, rule, acc))) === expected)
    finally graphs.unpersist()

    // a layout without its meta sidecar (as written before the sidecar
    // existed) serves the same answers: serving never reads it
    val (fs, p) = graft.store.Fs.pathFs(spark, path)
    assert(fs.delete(new org.apache.hadoop.fs.Path(p, "_graft_meta"), false))
    assert(HnswStore.readMeta(spark, path).isEmpty)
    assert(oneShot === expected)
    val bare = HnswStore.resident(spark, path)
    try assert(answers((q, rule, acc) => pairs(bare.search(q, 10, rule, acc))) === expected)
    finally bare.unpersist()
  }

  test("the default-rule serve answers as search under defaultRule, routed and hash-sharded") {
    val vecs = VectorModel.lineitemVectors(spark, Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_default").toString
    HnswStore.saveRouted(vecs, s"$dir/routed", numShards = 8, m = 24, efConstruction = 120)
    HnswStore.save(vecs, s"$dir/hashed", m = 24, efConstruction = 120, numPartitions = 4)
    for (path <- Seq(s"$dir/routed", s"$dir/hashed"); q <- queries) {
      val rule = HnswStore.defaultRule(spark, path)
      assert(pairs(HnswStore.searchDefault(spark, path, q, 10, 128, "id")) ===
        pairs(HnswStore.search(spark, path, q, 10, rule)), s"$path under $rule")
    }
    assert(HnswStore.defaultRule(spark, s"$dir/routed") === Nearest(4))
    assert(HnswStore.defaultRule(spark, s"$dir/hashed") === AllShards)
  }

  test("a derived-shard routed facade probes half its built shards, the same before and after save/load") {
    val dim = 16
    val rng = new java.util.Random(11)
    val centres = Array.fill(8)(Array.fill(dim)(rng.nextGaussian() * 5))
    val db = new VectorDb(spark, dim)
    db.batchInsert((0 until 3000).map(i =>
      (centres(i % 8).toSeq.map(_ + rng.nextGaussian()), Map.empty[String, String])))
    db.buildHnswIndex(numPartitions = HnswStore.DeriveShards, routed = true)
    val path = db.hnswIndexPath.get
    val shards = HnswStore.readRouting(spark, path).get.length
    assert(shards === HnswStore.DefaultMinShards, "3000 rows derive the floor count")
    assert(HnswStore.defaultRule(spark, path) === Nearest(shards / 2))
    val qs = (0 until 12).map { s =>
      val r = new java.util.Random(100L + s)
      centres(s % 8).toSeq.map(_ + r.nextGaussian() * 2)
    }
    def answers(d: VectorDb) = qs.map(q => pairs(d.hnswSearch(q, 10)))
    val built = answers(db)
    // the facade's answers are the one-shot serve's at Nearest(shards / 2)
    assert(built === qs.map(q => pairs(HnswStore.search(spark, path, q, 10, Nearest(shards / 2)))))
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_rule_db").toString + "/db"
    db.save(dir)
    assert(answers(VectorDb.load(spark, dir, dim)) === built,
      "a save/load round trip must not change the routed answers")
  }

  test("a derived-shard facade re-derives its shard count on rebuild after save/load") {
    val dim = 2
    val rng = new java.util.Random(13)
    def grow(n: Int) = (0 until n).map(_ =>
      (Seq.fill(dim)(rng.nextGaussian()), Map.empty[String, String]))
    val seed = grow(2000)
    // past the floor: one shard more than DefaultMinShards at the routed target
    val growth = grow(HnswStore.DefaultMinShards * HnswStore.RoutedTargetShardRows)
    def shards(d: VectorDb) = HnswStore.readRouting(spark, d.hnswIndexPath.get).get.length
    def rebuiltAfterGrowth(d: VectorDb): Int = {
      d.batchInsert(growth)
      assert(d.maintainIndexes() === Seq("hnsw_rebuilt"))
      shards(d)
    }
    val twin = new VectorDb(spark, dim)
    twin.batchInsert(seed)
    twin.buildHnswIndex(numPartitions = HnswStore.DeriveShards, routed = true)
    assert(shards(twin) === HnswStore.DefaultMinShards)
    val expected = HnswStore.DefaultMinShards + 1
    assert(rebuiltAfterGrowth(twin) === expected)

    val db = new VectorDb(spark, dim)
    db.batchInsert(seed)
    db.buildHnswIndex(numPartitions = HnswStore.DeriveShards, routed = true)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_derived_db").toString + "/db"
    db.save(dir)
    val loaded = VectorDb.load(spark, dir, dim)
    assert(HnswStore.readTargetRows(spark, loaded.hnswIndexPath.get) ===
      Some(HnswStore.RoutedTargetShardRows), "the saved layout keeps its derived policy")
    assert(rebuiltAfterGrowth(loaded) === expected)
  }
}
