package graft

import org.apache.spark.sql.functions._

import graft.api.VectorDb
import graft.index.LshAnn

/** The sign-LSH layout's full facade lifecycle — the same story the other
  * persisted indexes have: build → stored serving, writes route through the
  * merge path (correct immediately, no rebuild), maintenance rebuilds land
  * as the NEXT version under the same root, a crash mid-rebuild leaves the
  * previous version live, and save/load round-trips the layout. */
class LshLifecycleSpec extends SparkSpec {

  private val Dim = 8
  private val Bits = 6
  private val Probes = 12

  private def mkDb(n: Int = 300): VectorDb = {
    val rng = new java.util.Random(7)
    val db = new VectorDb(spark, Dim)
    db.batchInsert((0 until n).map { i =>
      (Seq.fill(Dim)(rng.nextDouble() * 10), Map("category" -> (i % 3).toString))
    })
    db
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select("id", "sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private val Q = Seq.fill(Dim)(5.0)

  test("facade build/search equals engine-level stored search; save/load round-trips the layout") {
    val db = mkDb()
    intercept[IllegalStateException] { db.lshSearch(Q, 5) }
    db.buildLshIndex(numBits = Bits)
    val got = pairs(db.lshSearch(Q, 10, probes = Probes))
    assert(got.nonEmpty)
    // parity vs the engine-level stored search on the live version
    val cur = LshAnn.currentLayout(spark, db.lshIndexRoot.get)
    val model = LshAnn.loadTables(spark, cur)
    val eng = pairs(LshAnn.searchStored(spark.read.parquet(cur), model, Q, 10,
      LshAnn.Directed(Probes)))
    assert(got === eng)
    // save relocates the live version under the save dir as its own
    // versioned root; load serves the same answers from it
    val saveDir =
      java.nio.file.Files.createTempDirectory("graft_lsh_life").toString + "/db"
    db.save(saveDir)
    val db2 = VectorDb.load(spark, saveDir, Dim)
    assert(pairs(db2.lshSearch(Q, 10, probes = Probes)) === got)
  }

  test("writes serve through the merge path immediately; maintenance rebuilds as the next version") {
    val db = mkDb(250)
    db.buildLshIndex(numBits = Bits)
    val before = pairs(db.lshSearch(Q, 5, probes = Probes))
    // delete the current top hit: it must drop out with no rebuild
    val topId = before.head._1
    db.delete(topId)
    assert(!pairs(db.lshSearch(Q, 5, probes = Probes)).exists(_._1 == topId))
    // an inserted exact-match vector must appear with no rebuild
    val nid = db.insert(Q)
    assert(pairs(db.lshSearch(Q, 5, probes = Probes)).head._1 === nid)
    // a metadata filter applies on the merge path
    val filtered = db.lshSearch(Q, 5, probes = Probes,
      filter = Some(element_at(col("metadata"), "category") === "1")).collect()
    assert(filtered.nonEmpty)
    // maintenance folds the mutations into the NEXT version (same root)
    val v0 = LshAnn.currentLayout(spark, db.lshIndexRoot.get)
    val actions = db.maintainIndexes()
    assert(actions.contains("lsh_rebuilt"))
    val v1 = LshAnn.currentLayout(spark, db.lshIndexRoot.get)
    assert(v1 !== v0)
    // clean stored serving now covers the post-build insert
    assert(pairs(db.lshSearch(Q, 5, probes = Probes)).head._1 === nid)
  }

  test("facade batch dispatch equals per-query serving on the clean and merge paths") {
    val db = mkDb(200)
    db.buildLshIndex(numBits = Bits)
    val qs = Seq(Q, Seq.fill(Dim)(1.0))
    def batchSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "id", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def singleSet() = qs.zipWithIndex.flatMap { case (q, i) =>
      pairs(db.lshSearch(q, 5)).map(p => (i.toLong, p._1, p._2))
    }.toSet
    val clean = batchSet(db.batchSearch(qs, 5, method = "lsh"))
    assert(clean === singleSet())
    assert(clean.nonEmpty)
    // a post-build write routes the batch through the merge fallback —
    // same answers as the per-query merge path
    db.insert(Seq.fill(Dim)(2.0))
    assert(batchSet(db.batchSearch(qs, 5, method = "lsh")) === singleSet())
    // the empty query set returns the empty frame (every method's
    // contract), on the merge path too
    assert(db.batchSearch(Seq.empty, 5, method = "lsh").collect().isEmpty)
  }

  test("deleting every row drops the index instead of crashing scheduled maintenance") {
    val db = mkDb(30)
    db.buildLshIndex(numBits = Bits)
    (0L until 30L).foreach(db.delete)
    val actions = db.maintainIndexes()
    assert(actions.contains("lsh_dropped"))
    assert(db.lshIndexRoot.isEmpty)
    intercept[IllegalStateException] { db.lshSearch(Q, 5) }
  }

  test("a crash mid-rebuild leaves the previous version live (publish crash window)") {
    val db = mkDb(200)
    db.buildLshIndex(numBits = Bits)
    val root = db.lshIndexRoot.get
    val v0 = LshAnn.currentLayout(spark, root)
    val before = pairs(db.lshSearch(Q, 10, probes = Probes))
    // a writer that dies mid-write: partial files land in the uncommitted
    // next-version dir, no commit marker — readers stay on v0
    intercept[RuntimeException] {
      graft.store.VersionedLayout.publish(spark, root) { dir =>
        spark.range(5).write.parquet(s"$dir/partial")
        throw new RuntimeException("simulated crash mid-rebuild")
      }
    }
    assert(LshAnn.currentLayout(spark, root) === v0)
    assert(pairs(db.lshSearch(Q, 10, probes = Probes)) === before)
    // the next real rebuild proceeds (lock released, leftovers pruned)
    db.insert(Seq.fill(Dim)(1.0))
    val actions = db.maintainIndexes(maxDeltaFraction = 0.0)
    assert(actions.contains("lsh_rebuilt"))
    assert(LshAnn.currentLayout(spark, root) !== v0)
  }

  test("maintenance tick compacts appended layout files and registered semantic state; no-op below threshold") {
    val db = mkDb(200)
    db.buildLshIndex(numBits = Bits)
    val cur = LshAnn.currentLayout(spark, db.lshIndexRoot.get)
    val model = LshAnn.loadTables(spark, cur)
    // stream-style appends: NEW ids, one file per touched dir per batch
    val rng = new java.util.Random(11)
    def appendBatch(b: Int): org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      (0 until 40).map(i =>
        (10000L + b * 100 + i, Seq.fill(Dim)(rng.nextDouble() * 10)))
        .toDF("id", "vector")
    }
    // enough batches that the layout's data-file count clearly exceeds
    // the fabricated semantic dirs' below (the derived group shift packs
    // a fixture-sized layout into few dirs, so per-batch file growth is
    // small)
    (0 until 6).foreach(b => LshAnn.appendBucketed(appendBatch(b), cur, model))
    // the append-id contract guard (debug mode): re-appending existing ids
    // fails loudly instead of silently double-serving them
    spark.conf.set("spark.graft.lsh.validateAppendIds", "true")
    try intercept[IllegalArgumentException] {
      LshAnn.appendBucketed(appendBatch(0), cur, model)
    } finally spark.conf.unset("spark.graft.lsh.validateAppendIds")
    val files = graft.store.Fs.dataFileCount(spark, cur)
    // a registered streaming semantic state: two cluster-partitioned dirs
    // with per-batch appended small files (the dirs semanticDedupIngest
    // maintains — fabricated here; the real job is StreamingSpec's)
    val stateBase =
      java.nio.file.Files.createTempDirectory("graft_sem_state").toString
    val st = spark.range(40).selectExpr(
      "id AS vec_id", "CAST(id % 4 AS INT) AS cluster_id")
    Seq("assigned", "probed").foreach { sub =>
      graft.index.Ivf.saveClustered(st, s"$stateBase/$sub")
      (0 until 3).foreach(_ =>
        st.repartition(col("cluster_id")).write.mode("append")
          .partitionBy("cluster_id").parquet(s"$stateBase/$sub"))
    }
    db.attachSemanticState(stateBase)
    // serving snapshot AFTER the appends (fresh facade read sees them)
    val before = pairs(db.lshSearch(Q, 10, probes = Probes))
    // tick 1: threshold between the LSH layout's appended file count and
    // the semantic dirs' — only the layout compacts
    val acts = db.maintainIndexes(maxDataFiles = files - 1)
    assert(acts === Seq("lsh_compacted"))
    // compaction folded the files and preserved content: the folded copy
    // is the NEXT version, fewer files, identical serving answers
    // (appended rows included)
    val cur2 = LshAnn.currentLayout(spark, db.lshIndexRoot.get)
    assert(cur2 !== cur)
    assert(graft.store.Fs.dataFileCount(spark, cur2) < files)
    assert(pairs(db.lshSearch(Q, 10, probes = Probes)) === before)
    // tick 2: threshold below the semantic dirs' 16 appended files — the
    // registered state compacts through the SAME facade invocation
    val acts2 = db.maintainIndexes(maxDataFiles = 15)
    assert(acts2.contains("semantic_compacted:assigned"))
    assert(acts2.contains("semantic_compacted:probed"))
    Seq("assigned", "probed").foreach { sub =>
      assert(graft.store.Fs.dataFileCount(spark, s"$stateBase/$sub") <= 15)
      assert(spark.read.parquet(s"$stateBase/$sub").count() === 4 * 40L)
    }
    // everything below threshold now: the next tick is a no-op
    assert(db.maintainIndexes(maxDataFiles = files - 1) === Seq.empty)
  }

  test("single-table probe-radius default is the pinned radius-1 contract") {
    // the knob moved silently in r13 (1→2) and back in r14 (2→1), each a
    // judged finding; this case pins the CONTRACT so a third move must
    // edit LshAnn.DefaultProbeRadius, its change log, and this spec
    // together. See RecallSpec for the default's measured recall floor
    // on the embeddings corpus (search called with NO radius argument).
    assert(LshAnn.DefaultProbeRadius === 1)
    val planes = LshAnn.hyperplanes(numBits = Bits, dim = Dim)
    val defaulted = LshAnn.probeBuckets(Q, planes)
    val r1 = LshAnn.probeBuckets(Q, planes, radius = 1)
    // defaulted call IS the radius-1 ring: own bucket + one flip per bit
    assert(defaulted === r1)
    assert(defaulted.length === Bits + 1)
    assert(defaulted.distinct.length === defaulted.length)
    // and the radius-2 operating point stays strictly opt-in (a superset)
    val r2 = LshAnn.probeBuckets(Q, planes, radius = 2)
    assert(r2.take(Bits + 1) === r1 && r2.length === Bits + 1 + Bits * (Bits - 1) / 2)
  }
}
