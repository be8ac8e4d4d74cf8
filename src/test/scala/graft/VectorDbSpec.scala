package graft

import org.apache.spark.sql.functions._

import graft.api.VectorDb

/** End-to-end facade test mirroring the reference's demo flows
  * (examples/datawhale.py:9-139): insert → search → filter → index →
  * compress → persist → reload → same answers. */
class VectorDbSpec extends SparkSpec {

  private def freshDb(n: Int = 200, dim: Int = 8): VectorDb = {
    val rng = new java.util.Random(11)
    val db = new VectorDb(spark, dim)
    val rows = (0 until n).map { i =>
      val v = Seq.fill(dim)(rng.nextDouble() * 10)
      val m = Map("text" -> s"document about ${if (i % 2 == 0) "science" else "art"} $i",
        "category" -> (i % 3).toString)
      (v, m)
    }
    db.batchInsert(rows)
    db
  }

  test("insert returns sequential ids; count matches; getById round-trips") {
    val db = freshDb(50)
    assert(db.count() === 50)
    val id = db.insert(Seq.fill(8)(1.0), Map("text" -> "solo"))
    assert(id === 50L)
    val got = db.getById(id)
    assert(got.exists(_._2("text") == "solo"))
    assert(db.getById(9999L).isEmpty)
  }

  test("dimension check rejects bad vectors (reference :243-245)") {
    val db = freshDb(5)
    intercept[IllegalArgumentException] { db.insert(Seq(1.0, 2.0)) }
  }

  test("brute force search returns top-k; filtered search respects predicates") {
    val db = freshDb()
    val q = Seq.fill(8)(5.0)
    val res = db.bruteForceSearch(q, 10).collect()
    assert(res.length === 10)
    val filtered = db.filteredSearch(q, 10, keywords = Seq("SCIENCE")).collect()
    assert(filtered.nonEmpty)
    assert(filtered.forall(_.getMap[String, String](2)("text").contains("science")))
    val both = db.filteredSearch(q, 10, keywords = Seq("science"),
      metadataFilter = Some(element_at(col("metadata"), "category") === "0")).collect()
    assert(both.forall { r =>
      val m = r.getMap[String, String](2)
      m("text").contains("science") && m("category") == "0"
    })
  }

  test("filtered search dispatches to hnsw (persisted and fresh) with filter semantics") {
    val db = freshDb(120)
    val q = Seq.fill(8)(5.0)
    def assertFiltered(rows: Array[org.apache.spark.sql.Row]): Unit = {
      assert(rows.nonEmpty)
      val ids = rows.map(_.getLong(0)).toSet
      // category == "0" ids are exactly those with i % 3 == 0
      assert(ids.forall(_ % 3 == 0), s"non-matching ids returned: $ids")
    }
    val pred = Some(element_at(col("metadata"), "category") === "0")
    // fresh build: filter-first, exact semantics
    assertFiltered(db.filteredSearch(q, 10, metadataFilter = pred, method = "hnsw").collect())
    // persisted graph: predicate threaded into the beam search
    db.buildHnswIndex(numPartitions = 4)
    assertFiltered(db.filteredSearch(q, 10, metadataFilter = pred, method = "hnsw").collect())
  }

  test("routed facade index: builds, serves, survives save/load and maintenance rebuild") {
    val db = freshDb(400)
    val q = Seq.fill(8)(5.0)
    db.buildHnswIndex(numPartitions = 8, routed = true)
    val routed = db.hnswSearch(q, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(routed.length === 5)
    // quality: routed top-5 recovers most of the exact answer
    val exact = db.bruteForceSearch(q, 5).collect().map(_.getLong(0)).toSet
    assert(routed.map(_._1).count(exact) >= 4, s"routed ${routed.map(_._1)} vs exact $exact")
    // batch path routes too and covers every query
    val batch = db.batchSearch(Seq(q, q.map(_ + 1.0)), 5, method = "hnsw").collect()
    assert(batch.groupBy(_.getLong(0)).keySet === Set(0L, 1L))
    // save/load: the routing sidecar travels with the layout (without the
    // copy a loaded routed index silently degrades to all-shards fan-out)
    val dir = java.nio.file.Files.createTempDirectory("graft_vdb_routed").toString + "/db"
    db.save(dir)
    val back = graft.api.VectorDb.load(spark, dir, 8)
    assert(back.hnswSearch(q, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === routed, "loaded routed index must serve identically")
    // a write then maintenance: the rebuild keeps the layout routed
    back.insert(Seq.fill(8)(9.9), Map("text" -> "new"))
    back.update(0L, vector = Some(Seq.fill(8)(0.1)))
    assert(back.maintainIndexes().contains("hnsw_rebuilt"))
    val after = back.hnswSearch(q, 5).collect()
    assert(after.length === 5)
    assert(graft.index.HnswStore.readRouting(spark,
      back.hnswIndexPath.get).isDefined,
      "maintenance rebuild must preserve routedness")
  }

  test("bloom tier: selective filter past the driver-set bound serves beam-threaded via a Bloom filter") {
    val db = freshDb(300)
    db.buildHnswIndex(numPartitions = 4)
    val q = Seq.fill(8)(5.0)
    val pred = col("id") % 15 === 0 // 20 of 300 rows: selective (6.7%)
    try {
      // force the exact-set tier off: 20 qualifying ids > maxAcceptIds=3,
      // and 6.7% <= the 10% Bloom selectivity bound -> the Bloom tier
      spark.conf.set("spark.graft.hnsw.maxAcceptIds", "3")
      val res = db.hnswSearch(q, 5, filter = Some(pred)).collect()
      assert(res.length === 5, s"bloom tier must fill k, got ${res.length}")
      assert(res.forall(_.getLong(0) % 15 == 0),
        "false positives must be removed by the exact re-check")
      val exact = db.bruteForceSearch(q, 5, Some(pred)).collect().map(_.getLong(0)).toSet
      assert(res.map(_.getLong(0)).count(exact) >= 4, "bloom-tier recall")
    } finally spark.conf.unset("spark.graft.hnsw.maxAcceptIds")
  }

  test("persisted-graph filtered search: 2%-selective filter returns full k where overfetch starves") {
    val db = freshDb(300)
    db.buildHnswIndex(numPartitions = 4)
    val q = Seq.fill(8)(5.0)
    val pred = col("id") % 50 === 0 // 6 of 300 rows qualify
    val res = db.hnswSearch(q, 5, filter = Some(pred)).collect()
    assert(res.length === 5, s"filtered traversal must return full k, got ${res.length}")
    assert(res.forall(_.getLong(0) % 50 == 0))
    // the reference's overfetch-3k shape on the same index: top-15 graph
    // candidates post-filtered — starves (this is what the clean path did
    // before the beam-threaded predicate)
    val overfetch = db.hnswSearch(q, 15).collect().map(_.getLong(0)).count(_ % 50 == 0)
    assert(overfetch < 5, s"overfetch should starve under this filter, kept $overfetch")
    // and the returned ids match the exact filtered operator's top-5
    val exact = db.bruteForceSearch(q, 5, Some(pred)).collect().map(_.getLong(0)).toSeq
    assert(res.map(_.getLong(0)).toSeq === exact)
  }

  test("batch search dispatches per method; every method covers every query") {
    val db = freshDb(150)
    db.buildIvfIndex(k = 4)
    val qs = (0 until 4).map(s => Seq.tabulate(8)(i => (i + s + 1).toDouble))
    val brute = db.batchSearch(qs, 5).collect()
    val hnsw = db.batchSearch(qs, 5, method = "hnsw").collect()
    val ivf = db.batchSearch(qs, 5, method = "ivf").collect()
    for ((res, name) <- Seq((brute, "brute"), (hnsw, "hnsw"), (ivf, "ivf"))) {
      val byQuery = res.groupBy(_.getLong(0))
      assert(byQuery.keySet === qs.indices.map(_.toLong).toSet, s"$name missed a query")
      assert(res.forall(_.schema.fieldNames.toSeq == Seq("query_id", "id", "sim", "rn")),
        s"$name returns a different shape")
      byQuery.values.foreach(rows => assert(rows.length === 5, s"$name row count"))
    }
    // approximate methods recover most of the exact per-query answers
    def keys(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = keys(brute)
    assert(keys(hnsw).intersect(b).size >= (b.size * 0.8).toInt, "hnsw batch recall")
    assert(keys(ivf).intersect(b).size >= (b.size * 0.5).toInt, "ivf batch recall")
  }

  test("update and delete are copy-on-write with incremental IVF maintenance") {
    val db = freshDb(30)
    db.buildIvfIndex(k = 4)
    db.update(0L, metadata = Some(Map("text" -> "updated", "category" -> "9")))
    assert(db.getById(0L).exists(_._2("category") == "9"))
    db.delete(1L)
    assert(db.count() === 29)
    assert(db.getById(1L).isEmpty)
    // incremental maintenance: the index re-assigns LIVE rows with the
    // existing centroids — no rebuild needed, deleted id never returned
    // (the reference's stale inverted lists return wrong rows, :324-335)
    val ids = db.ivfSearch(Seq.fill(8)(1.0), 29).collect().map(_.getLong(0)).toSet
    assert(!ids.contains(1L))
    assert(ids.nonEmpty)
    // a newly inserted row is immediately searchable through the index
    val newId = db.insert(Seq.fill(8)(1.0))
    val again = db.ivfSearch(Seq.fill(8)(1.0), 5).collect().map(_.getLong(0)).toSet
    assert(again.contains(newId), "inserted row must be index-visible")
  }

  test("batch hnsw serves from the persisted graph when clean, falls back after writes") {
    val db = freshDb(150)
    db.buildHnswIndex(numPartitions = 4)
    val qs = (0 until 3).map(s => Seq.tabulate(8)(i => (i + s + 1).toDouble))
    def keys(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = db.batchSearch(qs, 5).collect()
    val stored = db.batchSearch(qs, 5, method = "hnsw").collect()
    assert(stored.groupBy(_.getLong(0)).keySet === qs.indices.map(_.toLong).toSet)
    stored.groupBy(_.getLong(0)).values.foreach(rows => assert(rows.length === 5))
    assert(keys(stored).intersect(keys(brute)).size >= (keys(brute).size * 0.8).toInt,
      "stored-graph batch recall vs brute")
    // a write invalidates clean serving; the fresh-build fallback still
    // covers every query and sees the new row
    val newId = db.insert(Seq.tabulate(8)(i => (i + 1).toDouble))
    val after = db.batchSearch(qs, 5, method = "hnsw").collect()
    assert(after.groupBy(_.getLong(0)).keySet === qs.indices.map(_.toLong).toSet)
    assert(after.exists(r => r.getLong(1) == newId),
      "post-write batch must see the inserted exact-match row")
  }

  test("batch search covers every query with k rows each") {
    val db = freshDb(100)
    val queries = (0 until 4).map(i => Seq.fill(8)(i + 1.0))
    val res = db.batchSearch(queries, 3)
    assert(res.count() === 12)
    assert(res.select("query_id").distinct().count() === 4)
  }

  test("hnsw search agrees with brute force on an easy query") {
    val db = freshDb(300)
    val q = Seq.fill(8)(5.0)
    val exact = db.bruteForceSearch(q, 10)
    val approx = db.hnswSearch(q, 10)
    val r = graft.harness.Recall.recallAtK(exact, approx, "id")
    assert(r >= 0.8, s"recall $r")
  }

  test("pq compress/decompress round-trips with bounded error") {
    val db = freshDb(300)
    db.trainPq(m = 4)
    val encoded = db.compress()
    assert(encoded.where(octet_length(col("pq_code")) =!= 4).count() === 0)
    val decoded = db.decompress(encoded)
    val mae = decoded.select(
      aggregate(zip_with(col("vector"), col("vector_approx"), (a, b) => abs(a - b)),
        lit(0.0), (acc, x) => acc + x)./(8.0).as("mae"))
      .agg(avg("mae")).collect()(0).getDouble(0)
    assert(mae < 2.0, s"mae $mae vs data scale ~5")
  }

  test("save/load round-trips data, ids, and all three index models (W10/W11)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_db").toString
    val db = freshDb(100)
    db.buildIvfIndex(k = 4)
    db.trainPq(m = 4)
    db.buildHnswIndex(numPartitions = 4)
    val q = Seq.fill(8)(3.0)
    val before = db.bruteForceSearch(q, 5).collect().map(_.getLong(0)).toSeq
    val beforeIvf = db.ivfSearch(q, 5).collect().map(_.getLong(0)).toSeq
    val beforeHnsw = db.hnswSearch(q, 5).collect().map(_.getLong(0)).toSeq
    db.save(s"$dir/db")
    val back = VectorDb.load(spark, s"$dir/db", 8)
    assert(back.count() === 100)
    assert(back.bruteForceSearch(q, 5).collect().map(_.getLong(0)).toSeq === before)
    assert(back.ivfSearch(q, 5).collect().map(_.getLong(0)).toSeq === beforeIvf)
    assert(back.hnswSearch(q, 5).collect().map(_.getLong(0)).toSeq === beforeHnsw,
      "restored hnsw graph must answer identically")
    val id = back.insert(Seq.fill(8)(0.5))
    assert(id === 100L, "next id must survive persistence")
    assert(back.compress().count() === 101)
  }

  test("a loaded db can save back onto its own directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_db_cycle").toString
    val db = freshDb(40)
    db.buildIvfIndex(k = 4)
    db.buildHnswIndex(numPartitions = 4)
    db.save(s"$dir/db")
    val back = VectorDb.load(spark, s"$dir/db", 8)
    back.trainPq(m = 4)
    back.save(s"$dir/db") // read-from == write-to: must not throw
    val again = VectorDb.load(spark, s"$dir/db", 8)
    assert(again.count() === 40)
    val q = Seq.fill(8)(3.0)
    assert(again.hnswSearch(q, 5).count() === 5)
    assert(again.compress().count() === 40)
  }

  test("mutate -> save -> reload cannot resurrect deleted rows through any index") {
    // The round-2 staleness bug: save() left old index sidecars on disk
    // after a write invalidated them, and reload served deleted rows.
    // With incremental maintenance the sidecars legitimately survive —
    // correctness is behavioral: no search path may return a deleted id.
    val dir = java.nio.file.Files.createTempDirectory("graft_db_stale").toString
    val db = freshDb(50)
    db.buildIvfIndex(k = 4)
    db.buildHnswIndex(numPartitions = 4)
    db.trainPq(m = 4)
    db.save(s"$dir/db")
    val back = VectorDb.load(spark, s"$dir/db", 8)
    back.delete(0L)
    back.save(s"$dir/db")
    val again = VectorDb.load(spark, s"$dir/db", 8)
    assert(again.count() === 49)
    assert(again.compress().count() === 49)
    val q = Seq.fill(8)(5.0)
    // hnsw serves through the persisted graph's merge path (re-scored
    // against live rows) — deleted id never returned
    assert(!again.hnswSearch(q, 49).collect().map(_.getLong(0)).contains(0L))
    // ivf assignment was re-derived from live rows before the save
    assert(!again.ivfSearch(q, 49).collect().map(_.getLong(0)).contains(0L))
  }

  test("save deletes sidecars of indexes that were never (re)built") {
    // The un-built case still must not resurrect: a db saved WITHOUT an
    // index onto a directory that has one from an earlier save drops it.
    val dir = java.nio.file.Files.createTempDirectory("graft_db_unbuilt").toString
    val db = freshDb(30)
    db.buildIvfIndex(k = 4)
    db.buildHnswIndex(numPartitions = 4)
    db.save(s"$dir/db")
    val fresh = new VectorDb(spark, 8)
    fresh.batchInsert((0 until 10).map(i => (Seq.fill(8)(i.toDouble), Map.empty[String, String])))
    fresh.save(s"$dir/db") // no indexes on this instance: sidecars must go
    assert(!new java.io.File(s"$dir/db/hnsw").exists(), "orphan hnsw sidecar survived")
    assert(!new java.io.File(s"$dir/db/ivf_data").exists(), "orphan ivf_data survived")
    assert(!new java.io.File(s"$dir/db/ivf_centroids").exists(), "orphan ivf_centroids survived")
    assert(!new java.io.File(s"$dir/db/pq_codebooks").exists(), "orphan pq_codebooks survived")
    val again = VectorDb.load(spark, s"$dir/db", 8)
    assert(again.count() === 10)
    intercept[IllegalStateException](again.ivfSearch(Seq.fill(8)(1.0), 5))
  }

  test("ivf-pq extension: search refines to exact sims, maintains through writes, persists") {
    val db = freshDb(150)
    val q = Seq.fill(8)(5.0)
    db.buildIvfPqIndex()
    val res = db.ivfPqSearch(q, 5).collect()
    assert(res.length === 5)
    // refined sims must equal the exact operator's for the same ids
    val exact = db.bruteForceSearch(q, 150).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("sim"))).toMap
    res.foreach(r => assert(r.getDouble(1) === exact(r.getLong(0))))
    // incremental maintenance: a deleted id never returns, an inserted
    // near-exact match is found without a rebuild
    val victim = res.head.getLong(0)
    db.delete(victim)
    assert(!db.ivfPqSearch(q, 5).collect().map(_.getLong(0)).contains(victim))
    val newId = db.insert(q.map(_ + 1e-4), Map("text" -> "near exact"))
    assert(db.ivfPqSearch(q, 3).collect().map(_.getLong(0)).contains(newId))
    // save/load round-trip serves identically
    val dir = java.nio.file.Files.createTempDirectory("vdb_ivfpq").toString
    db.save(dir)
    val re = VectorDb.load(spark, dir, 8)
    val before = db.ivfPqSearch(q, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val after = re.ivfPqSearch(q, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(before === after)
  }

  test("constructor hyperparameters thread through (reference 32/200 + pq m=4)") {
    val rng = new java.util.Random(11)
    val db = new VectorDb(spark, 8, hnswM = 32, hnswEfConstruction = 200, pqM = 4)
    db.batchInsert((0 until 100).map { i =>
      (Seq.fill(8)(rng.nextDouble() * 10), Map("text" -> s"doc $i"))
    })
    val q = Seq.fill(8)(5.0)
    db.buildHnswIndex()
    // reference-parameter graph must agree with the exact top-1
    val exactTop = db.bruteForceSearch(q, 1).collect()(0).getLong(0)
    val hnswTop = db.hnswSearch(q, 1).collect()(0).getLong(0)
    assert(hnswTop === exactTop)
    db.trainPq()
    val codeLen = db.compress().select(
      org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.length(col("pq_code")))).head.getInt(0)
    assert(codeLen === 4, "pq codes must use the constructor's subquantizer count")
  }

  test("batch search filter: every method returns only qualifying rows for every query") {
    val db = freshDb(150)
    db.buildIvfIndex()
    val queries = Seq(Seq.fill(8)(3.0), Seq.fill(8)(7.0))
    val pred = element_at(col("metadata"), "category") === "1"
    for (method <- Seq("brute_force", "hnsw", "ivf")) {
      val rows = db.batchSearch(queries, 4, method = method, filter = Some(pred))
        .collect()
      assert(rows.nonEmpty, method)
      assert(rows.map(_.getAs[Long]("query_id")).toSet === Set(0L, 1L), method)
      rows.foreach { r =>
        assert(db.getById(r.getAs[Long]("id")).exists(_._2("category") == "1"),
          s"$method returned a non-qualifying row")
      }
    }
  }

  test("filtered search dispatches to ivfpq; every hit satisfies the predicate") {
    val db = freshDb(150)
    db.buildIvfPqIndex()
    val q = Seq.fill(8)(5.0)
    val pred = element_at(col("metadata"), "category") === "0"
    val res = db.filteredSearch(q, 5, metadataFilter = Some(pred), method = "ivfpq")
      .collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(db.getById(r.getLong(0)).exists(_._2("category") == "0"))
    }
    // refined sims equal the exact operator's for the same ids
    val exact = db.bruteForceSearch(q, 150).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("sim"))).toMap
    res.foreach(r => assert(r.getDouble(1) === exact(r.getLong(0))))
  }

  test("keywordRank extension: BM25 over metadata text ranks matching docs") {
    val db = freshDb(80)
    val res = db.keywordRank(Seq("science"), 10).collect()
    assert(res.length === 10)
    val ids = res.map(_.getLong(0))
    ids.foreach { id =>
      assert(db.getById(id).exists(_._2("text").contains("science")))
    }
    val scores = res.map(_.getDouble(1))
    assert(scores.sameElements(scores.sortBy(-(_: Double))))
  }

  test("hnsw serves incrementally through writes (insert/delete/update)") {
    val db = freshDb(60)
    db.buildHnswIndex(numPartitions = 4)
    val q = Seq.fill(8)(5.0)
    // delete: merge path re-scores graph candidates against live rows
    db.delete(0L)
    assert(!db.hnswSearch(q, 60).collect().map(_.getLong(0)).contains(0L))
    // insert: the delta region is searched exactly — a perfect match
    // inserted AFTER the build must surface as the top hit
    val newId = db.insert(q)
    val top = db.hnswSearch(q, 1).collect()
    assert(top.head.getLong(0) === newId, "delta insert must be searchable without rebuild")
    // update re-scores with LIVE vectors. (cosine is scale-invariant, so
    // demotion needs an orthogonal vector, not a scaled one)
    val ortho = Seq.tabulate(8)(i => if (i % 2 == 0) 1.0 else -1.0)
    // a delta row (exact search) demotes on update
    db.update(newId, vector = Some(ortho))
    assert(db.hnswSearch(q, 1).collect().head.getLong(0) !== newId)
    // a graph-covered row re-scores too: row 5 is the exact match for its
    // own vector; after updating it away it must stop being the top hit
    val v5 = db.getById(5L).get._1
    assert(db.hnswSearch(v5, 1).collect().head.getLong(0) === 5L)
    db.update(5L, vector = Some(ortho.map(_ * 10)))
    assert(db.hnswSearch(v5, 1).collect().head.getLong(0) !== 5L)
  }

  test("hyperparameters survive save/load; post-load writes serve like a never-persisted twin") {
    val dim = 8
    val rng = new java.util.Random(23)
    val rows = (0 until 90).map { i =>
      (Seq.fill(dim)(rng.nextDouble() * 10), Map("text" -> s"doc $i"))
    }
    def mk(): VectorDb = new VectorDb(spark, dim,
      hnswM = 32, hnswEfConstruction = 200, pqM = 4, pqNBits = 4)
    val twin = mk()
    twin.batchInsert(rows)
    twin.buildHnswIndex(numPartitions = 4)
    twin.trainPq()
    val persisted = mk()
    persisted.batchInsert(rows)
    persisted.buildHnswIndex(numPartitions = 4)
    persisted.trainPq()
    val dir = java.nio.file.Files.createTempDirectory("graft_db_hp").toString
    persisted.save(dir)
    val loaded = VectorDb.load(spark, dir, dim)
    assert(loaded.hnswM === 32 && loaded.hnswEfConstruction === 200)
    assert(loaded.pqM === 4 && loaded.pqNBits === 4)
    // pqNBits != 8 used to break after load (pq.k=256 over 2^4 codebook
    // entries -> AIOOBE on encode); compress must work on the loaded db
    assert(loaded.compress().select("pq_code").count() === 90)
    // post-load write then search behaves exactly like the twin that was
    // never persisted (same build-time graph params drive the merge)
    val extra = Seq.fill(dim)(2.0)
    twin.insert(extra, Map("text" -> "extra"))
    loaded.insert(extra, Map("text" -> "extra"))
    val q = Seq.fill(dim)(2.0)
    def hits(db: VectorDb) = db.hnswSearch(q, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits(loaded) === hits(twin))
  }

  test("strict mode reproduces reference KeyError semantics; default stays Option/no-op") {
    val strictDb = new VectorDb(spark, 4, strict = true)
    strictDb.batchInsert(Seq((Seq(1.0, 2.0, 3.0, 4.0), Map.empty[String, String])))
    intercept[NoSuchElementException] { strictDb.getById(99L) }
    intercept[NoSuchElementException] { strictDb.update(99L, vector = Some(Seq(1.0, 1.0, 1.0, 1.0))) }
    intercept[NoSuchElementException] { strictDb.delete(99L) }
    assert(strictDb.getById(0L).nonEmpty)
    strictDb.update(0L, vector = Some(Seq(2.0, 2.0, 2.0, 2.0)))
    strictDb.delete(0L)
    assert(strictDb.count() === 0)
    val lax = new VectorDb(spark, 4)
    lax.batchInsert(Seq((Seq(1.0, 2.0, 3.0, 4.0), Map.empty[String, String])))
    assert(lax.getById(99L).isEmpty)
    lax.update(99L, vector = Some(Seq(1.0, 1.0, 1.0, 1.0))) // no-op
    lax.delete(99L) // no-op
    assert(lax.count() === 1)
    intercept[NoSuchElementException] { lax.getByIdOrThrow(99L) }
    assert(lax.getByIdOrThrow(0L)._1 === Seq(1.0, 2.0, 3.0, 4.0))
    // strict mode is choosable at load time (reference instances always
    // raise, so a ported caller loads with strict = true)
    val dir = java.nio.file.Files.createTempDirectory("graft_db_strict").toString
    lax.save(dir)
    val strictLoaded = VectorDb.load(spark, dir, 4, strict = true)
    intercept[NoSuchElementException] { strictLoaded.getById(99L) }
    assert(VectorDb.load(spark, dir, 4).getById(99L).isEmpty)
  }

  test("buildHnswIndex lands its owned layout at a caller-visible scratch dir through Fs") {
    val db = freshDb(60)
    val scratch = java.nio.file.Files.createTempDirectory("graft_db_scratch").toString + "/s"
    db.buildHnswIndex(scratch = Some(scratch))
    assert(graft.store.Fs.exists(spark, s"$scratch/g"),
      "explicit scratch must hold the layout")
    assert(db.hnswSearch(Seq.fill(8)(2.0), 3).count() === 3)
    // a rebuild may drop ONLY the layout it created — never the caller's
    // other contents in the same scratch directory
    val (sfs, sibling) = graft.store.Fs.pathFs(spark, s"$scratch/keep.txt")
    sfs.create(sibling, true).close()
    db.buildHnswIndex(scratch = Some(scratch))
    assert(graft.store.Fs.exists(spark, s"$scratch/keep.txt"),
      "rebuild must not delete unrelated files in a caller-supplied scratch dir")
    assert(db.hnswSearch(Seq.fill(8)(2.0), 3).count() === 3)
    // with a save/load home, the default scratch is _scratch under it —
    // everything the instance owns stays in one caller-visible directory
    val dir = java.nio.file.Files.createTempDirectory("graft_db_home").toString
    db.save(dir)
    db.buildHnswIndex()
    val (fs, p) = graft.store.Fs.pathFs(spark, s"$dir/_scratch")
    assert(fs.exists(p) && fs.listStatus(p).nonEmpty,
      "save-homed rebuild must land under <save path>/_scratch")
    assert(db.hnswSearch(Seq.fill(8)(2.0), 3).count() === 3)
  }

  test("maintainIndexes: rebuilds HNSW past the delta fraction / after mutation; refits IVF on drift") {
    val db = freshDb(100)
    db.buildHnswIndex(numPartitions = 4)
    // small delta (10/100): within bounds, no action
    db.batchInsert((0 until 10).map(_ => (Seq.fill(8)(1.0), Map.empty[String, String])))
    assert(db.maintainIndexes(maxDeltaFraction = 0.2) === Seq.empty)
    // grow the delta past 20%: rebuild, after which serving is the clean
    // graph path (covered watermark catches up) and results match a
    // freshly-built twin
    db.batchInsert((0 until 30).map(i => (Seq.fill(8)(i * 0.1), Map.empty[String, String])))
    assert(db.maintainIndexes(maxDeltaFraction = 0.2) === Seq("hnsw_rebuilt"))
    assert(db.maintainIndexes(maxDeltaFraction = 0.2) === Seq.empty, "rebuild resets the delta")
    val twin = new VectorDb(spark, 8)
    db.toDf.collect().sortBy(_.getLong(0)).foreach { r =>
      twin.batchInsert(Seq((r.getSeq[Double](1), Map.empty[String, String])))
    }
    twin.buildHnswIndex(numPartitions = 4)
    val q = Seq.fill(8)(2.0)
    assert(db.hnswSearch(q, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      twin.hnswSearch(q, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // mutation (delete) forces the merge path; maintenance folds it back
    db.delete(0L)
    assert(db.maintainIndexes() === Seq("hnsw_rebuilt"))
    // IVF drift: a refit is reported only past the threshold
    db.buildIvfIndex(k = 4)
    assert(db.maintainIndexes(ivfDriftThreshold = Some(1e9)) === Seq.empty)
    assert(db.maintainIndexes(ivfDriftThreshold = Some(0.0)) === Seq("ivf_refit"))
    // emptied db: maintenance drops the index (nothing to rebuild over)
    // instead of crashing the scheduled job on the empty-db build guard
    val emptied = freshDb(3)
    emptied.buildHnswIndex(numPartitions = 2)
    (0L until 3L).foreach(emptied.delete)
    assert(emptied.maintainIndexes() === Seq("hnsw_dropped"))
    assert(emptied.maintainIndexes() === Seq.empty)
  }

  test("reference error-semantics parity table") {
    // | reference site | semantics | here |
    // | :245 dim check        | ValueError on every vector entry point | IllegalArgumentException, always |
    // | :369/:414/:491 builds | ValueError on an empty database        | IllegalStateException, always |
    // | :429/:505 IVF/PQ use  | ValueError before build/train          | IllegalStateException, always |
    // | :381 hnsw_search      | ValueError before build                | IllegalStateException in strict mode; default = fresh filter-first build (documented improvement) |
    // | :303/:313/:326 absent | KeyError on get/update/delete          | NoSuchElementException in strict mode (covered by the strict-mode test) |
    val empty = new VectorDb(spark, 4)
    intercept[IllegalStateException] { empty.buildHnswIndex() }
    intercept[IllegalStateException] { empty.buildIvfIndex() }
    intercept[IllegalStateException] { empty.buildIvfPqIndex() }
    intercept[IllegalStateException] { empty.trainPq() }

    val db = freshDb(40)
    intercept[IllegalArgumentException] { db.bruteForceSearch(Seq(1.0)) }
    intercept[IllegalArgumentException] { db.hnswSearch(Seq(1.0)) }
    intercept[IllegalArgumentException] { db.ivfPqSearch(Seq(1.0)) }
    intercept[IllegalArgumentException] { db.batchSearch(Seq(Seq(1.0))) }
    intercept[IllegalArgumentException] { db.update(0L, vector = Some(Seq(1.0))) }
    intercept[IllegalStateException] { db.ivfSearch(Seq.fill(8)(1.0)) }
    intercept[IllegalStateException] { db.ivfPqSearch(Seq.fill(8)(1.0)) }
    intercept[IllegalStateException] { db.compress() }
    intercept[IllegalStateException] { db.decompress(db.toDf) }
    // default hnswSearch without a built index: fresh build, real results
    assert(db.hnswSearch(Seq.fill(8)(1.0), 3).count() === 3)

    val strictDb = new VectorDb(spark, 4, strict = true)
    strictDb.batchInsert(Seq((Seq(1.0, 2.0, 3.0, 4.0), Map.empty[String, String])))
    intercept[IllegalStateException] { strictDb.hnswSearch(Seq(1.0, 2.0, 3.0, 4.0)) }
    intercept[IllegalStateException] {
      strictDb.batchSearch(Seq(Seq(1.0, 2.0, 3.0, 4.0)), method = "hnsw")
    }
    // once built, strict searches serve normally
    strictDb.buildHnswIndex()
    assert(strictDb.hnswSearch(Seq(1.0, 2.0, 3.0, 4.0), 1).count() === 1)
  }

  test("batch search dispatches ivfpq (exact refined sims) and rejects unknown methods") {
    val db = freshDb(150)
    db.buildIvfPqIndex()
    val queries = Seq(Seq.fill(8)(5.0), Seq.fill(8)(1.0))
    val res = db.batchSearch(queries, topK = 4, method = "ivfpq").collect()
    assert(res.map(_.getLong(0)).distinct.sorted === Array(0L, 1L))
    assert(res.length === 8)
    // refined sims are exact cosines: where a hit also appears in the
    // brute-force batch, the similarity must agree
    val brute = db.batchSearch(queries, topK = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    res.foreach { r =>
      brute.get((r.getLong(0), r.getLong(1)))
        .foreach(s => assert(math.abs(s - r.getDouble(2)) < 1e-9))
    }
    intercept[IllegalArgumentException] { db.batchSearch(queries, topK = 2, method = "bogus") }
    intercept[IllegalArgumentException] { db.filteredSearch(Seq.fill(8)(5.0), 3, method = "bogus") }
  }

  test("batchSearchDf (DataFrame queries) equals the collected dispatch; guards dirty layouts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val db = new graft.api.VectorDb(spark, dim = 4)
    val rows = (0 until 300).map { i =>
      (Seq(1.0 + i % 7, 2.0 + i % 5, 3.0 + i % 3, (i % 11).toDouble),
        Map("i" -> i.toString))
    }
    db.batchInsert(rows)
    db.buildIvfIndex(k = 4)
    val queries = (0 until 40).map(s =>
      Seq(1.0 + s % 7, 2.0 + s % 5, 3.0 + s % 3, (s % 11).toDouble))
    val qdf = queries.zipWithIndex
      .map { case (q, i) => (i.toLong, q) }.toDF("query_id", "qvec")
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    // ivf: with adaptive=false the DataFrame path serves the collected
    // dispatch's fixed budget — results must be identical
    assert(sets(db.batchSearchDf(qdf, topK = 3, method = "ivf",
      adaptive = false)) ===
      sets(db.batchSearch(queries, topK = 3, method = "ivf")))
    // the adaptive DEFAULT serves the candidate-mass walk: a different
    // (calibrated) operating point, gated for engine-level parity in
    // BigBatchSpec — here assert it serves and returns full rank sets
    val adaptiveIvf = sets(db.batchSearchDf(qdf, topK = 3, method = "ivf"))
    assert(adaptiveIvf.map(_._1) === (0 until 40).map(_.toLong).toSet)
    // ivfpq: same property through the LUT-free direct-ADC path
    db.buildIvfPqIndex(k = 4, m = 2)
    assert(sets(db.batchSearchDf(qdf, topK = 3, method = "ivfpq",
      adaptive = false)) ===
      sets(db.batchSearch(queries, topK = 3, method = "ivfpq")))
    assert(sets(db.batchSearchDf(qdf, topK = 3, method = "ivfpq"))
      .map(_._1) === (0 until 40).map(_.toLong).toSet)
    // lsh: adaptive=false serves the collected dispatch's directed rule
    db.buildLshIndex()
    assert(sets(db.batchSearchDf(qdf, topK = 3, method = "lsh",
      adaptive = false)) ===
      sets(db.batchSearch(queries, topK = 3, method = "lsh")))
    // brute force: same exact scorer, same results
    assert(sets(db.batchSearchDf(qdf, topK = 3)) ===
      sets(db.batchSearch(queries, topK = 3)))
    // front-door dimension guard: a wrong-dim query row fails loudly
    // (the collected dispatch's checkDim semantics at query-set scale)
    val badQdf = Seq((0L, Seq(1.0, 2.0))).toDF("query_id", "qvec")
    val ex = intercept[Exception] {
      db.batchSearchDf(badQdf, topK = 3, method = "ivf").collect()
    }
    assert(ex.getMessage != null)
    // big-batch is a bulk path: no merge fallback — dirty layouts throw
    db.insert(Seq(9.0, 9.0, 9.0, 9.0))
    intercept[IllegalStateException] {
      db.batchSearchDf(qdf, topK = 3, method = "lsh")
    }
    assert(db.maintainIndexes(maxDeltaFraction = 0.0).nonEmpty)
    assert(sets(db.batchSearchDf(qdf, topK = 3, method = "lsh")).nonEmpty)
    // overscan REACHES the lsh family (the starvation knob the filter
    // contract tells callers to widen): a wide explicit budget admits at
    // least as many results as a starved mass target of overscan=1
    val lshWide = sets(db.batchSearchDf(qdf, topK = 3, method = "lsh",
      overscan = 256))
    val lshNarrow = sets(db.batchSearchDf(qdf, topK = 3, method = "lsh",
      overscan = 1))
    assert(lshWide.size >= lshNarrow.size)
    assert(lshWide.map(_._1).size >= lshNarrow.map(_._1).size)
    intercept[IllegalArgumentException] {
      db.batchSearchDf(qdf, topK = 3, method = "bogus")
    }
    intercept[IllegalArgumentException] {
      db.batchSearchDf(qdf, topK = 3, overscan = 0)
    }
  }
}
