package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.api.VectorDb
import graft.index.Ivf

/** The three `VectorDb` workloads: `ann_point`, `rw_mixed` and `ann_bulk`. */
object VectorWorkloads {
  val Dim = 128
  val K = 10
  val InsertChunks = 10
  val Searches = Seq("bruteForceSearch", "ivfSearch", "hnswSearch")
  /** The `ann_point` rotation. An HNSW call costs a fraction of the
    * others, so it takes more turns per round and its recall gets enough
    * samples. */
  val PointRotation = Seq("bruteForceSearch", "ivfSearch") ++ Seq.fill(8)("hnswSearch")
  /** Recall is scored on each ANN method's first calls, which take the
    * first queries of the run's fixed query list, so it depends on the seed
    * alone and not on how many calls fit in the run. The run goes on until
    * each method has made these calls. */
  val RecallCalls = Map("ivfSearch" -> 4, "hnswSearch" -> 32)
  /** Seed of the table every vector workload searches: one fixed draw, as
    * a standard dataset is, while `--seed` draws the queries and writes.
    * HNSW recall depends on how a given table's clusters fall into shards,
    * so a table drawn per seed made recall differ by seed more than by
    * program. */
  val TableSeed = 1L

  final case class Size(n: Int, setupReps: Int)

  private def asRows(vs: Seq[Array[Double]]): Seq[(Seq[Double], Map[String, String])] =
    vs.map(v => (v.toSeq, Map.empty[String, String]))

  /** The facade lifecycle the point workloads set up: chunked
    * `batchInsert`, `save` (which caches the table), `buildIvfIndex` and a
    * routed `buildHnswIndex`. */
  def build(run: Run, vectors: Array[Array[Double]], dir: String): VectorDb = {
    val db = new VectorDb(run.spark, Dim)
    vectors.grouped(math.max(1, vectors.length / InsertChunks)).foreach(c =>
      run.traced("batchInsert")(db.batchInsert(asRows(c.toSeq))))
    run.traced("save")(db.save(dir))
    run.traced("buildIvfIndex")(db.buildIvfIndex())
    run.traced("buildHnswIndex")(db.buildHnswIndex(routed = true))
    db
  }

  /** Set the point workloads up `reps` times over the same inputs and keep
    * the last database. Returns it with the median set-up seconds. */
  def setUp(run: Run, vectors: Array[Array[Double]], reps: Int): VectorDb = {
    var db: VectorDb = null
    val times = (0 until reps).map { r =>
      if (db != null) run.spark.catalog.clearCache()
      val (d, s) = run.wall(build(run, vectors, s"${run.workDir}/db$r"))
      db = d
      s
    }
    run.metric("setup_s", Stats.median(times), "s")
    db
  }

  private def ids(rows: Array[Row]): Seq[Long] = rows.map(_.getAs[Long]("id")).toSeq

  /** Oracle checks shared by every single-query read: brute force must equal
    * the exact top-k; an ANN answer must be k distinct ids that are live. */
  final class Reads(run: Run) {
    private val recalls = run.recalls

    def search(db: VectorDb, method: String, q: Array[Double], record: Boolean = true): Option[Array[Row]] =
      run.call(method, record) {
        val qs = q.toSeq
        (method match {
          case "bruteForceSearch" => db.bruteForceSearch(qs, K)
          case "ivfSearch" => db.ivfSearch(qs, K)
          case "hnswSearch" => db.hnswSearch(qs, K)
        }).collect()
      }

    /** Check one answer; `scored` adds an ANN answer's recall. */
    def check(method: String, got: Array[Row], exact: Seq[(Long, Double)],
        live: Long => Boolean, scored: Boolean): Unit = {
      val gotIds = ids(got)
      if (method == "bruteForceSearch") {
        val gotPairs = got.map(r => (r.getAs[Long]("id"), r.getAs[Double]("sim"))).toSeq
        run.check(gotPairs == exact, s"brute top-$K differs from the exact top-$K")
      } else {
        run.check(gotIds.size == math.min(K, exact.size) && gotIds.distinct.size == gotIds.size &&
          gotIds.forall(live), s"$method returned ids that are not $K distinct live ids")
        if (scored) recalls.getOrElseUpdate(method, mutable.ArrayBuffer.empty) +=
          Gen.recall(exact.map(_._1), gotIds)
      }
    }

    def recallMetrics(): Unit = Seq("ivfSearch" -> "ivf", "hnswSearch" -> "hnsw").foreach {
      case (m, short) => recalls.get(m).filter(_.nonEmpty).foreach(rs =>
        run.metric(s"${short}_recall_at_10", rs.sum / rs.size, "ratio"))
    }
  }

  /** Per-query IVF work the facade's probe rule implies: clusters probed
    * (`IvfModel.probeClusters` at the facade's max(k/2, 8)) and the rows
    * those clusters hold (`Ivf.clusterSizes`). The model is refitted with
    * the facade's own deterministic defaults, so it equals the facade's. */
  final class IvfProbe(db: VectorDb) {
    private val (assigned, model) = Ivf.fit(db.toDf, "vector", 16, 42L)
    private val sizes = Ivf.clusterSizes(assigned)
    val probes = mutable.ArrayBuffer.empty[Double]
    val rows = mutable.ArrayBuffer.empty[Double]

    def observe(q: Array[Double]): Unit = {
      val ps = model.probeClusters(q.toSeq, math.max(model.k / 2, 8))
      probes += ps.size
      rows += ps.map(p => sizes.getOrElse(p, 0L)).sum.toDouble
    }
  }

  private val Recalls = Seq("ivf_recall_at_10", "hnsw_recall_at_10")

  /** `brute_p50_ms`, `ivf_p50_ms` and `hnsw_p50_ms`, and the tails of the
    * calls made often enough to have one. */
  private def searchP50s(run: Run): Unit =
    Searches.zip(Seq("brute", "ivf", "hnsw")).foreach { case (call, short) =>
      run.p50Metric(s"${short}_p50_ms", Seq(call))
      run.tailMetric(s"${short}_tail_ms", Seq(call))
    }

  def logicalNodes(db: VectorDb): Int =
    db.toDf.queryExecution.logical.collect { case p => p }.size

  /** `ann_point`: single-client closed loop of top-10 searches rotating
    * brute / IVF / HNSW over the cached table. Every method walks the same
    * fixed query list, whose exact answers are computed before the clock
    * starts. */
  def annPoint(run: Run, size: Size): Unit = {
    val vectors = new Gen.Mixture(TableSeed, Dim).take(size.n)
    // the timed calls walk the first queries; the warm-up takes the last three
    val timedQueries = RecallCalls.values.max
    val queries = new Gen.Mixture(run.seed, Dim).stratified(timedQueries + Searches.size)
    val exact = Gen.exactTopK(vectors.indices.map(i => (i.toLong, vectors(i))), queries, K)
    val db = setUp(run, vectors, size.setupReps)
    val reads = new Reads(run)
    val probe = run.tracer.map(_ => new IvfProbe(db))
    run.tracer.foreach(_ => run.layer("api.plan_nodes") = logicalNodes(db).toDouble)
    val live = (id: Long) => id >= 0 && id < size.n
    val calls = mutable.Map.empty[String, Int].withDefaultValue(0)
    def one(method: String, record: Boolean): Unit = {
      val j = if (record) calls(method) % timedQueries else timedQueries + Searches.indexOf(method)
      val q = queries(j)
      val scored = record && calls(method) < RecallCalls.getOrElse(method, 0)
      reads.search(db, method, q, record).foreach { got =>
        reads.check(method, got, exact(j), live, scored)
        if (method == "ivfSearch") probe.foreach(_.observe(q))
      }
      if (record) calls(method) += 1
    }
    Searches.foreach(one(_, record = false)) // warm-up, unrecorded
    run.startClock()
    var i = 0
    while (run.timeLeft || RecallCalls.exists { case (m, n) => calls(m) < n }) {
      one(PointRotation(i % PointRotation.size), record = true)
      i += 1
    }
    run.metric("queries_per_s", run.callRate(Searches), "1/s")
    reads.recallMetrics()
    searchP50s(run)
    run.setEndToEnd(Searches, "queries_per_s", Recalls)
    probe.foreach { p =>
      run.layer("index.ivf.probes_per_query") = Stats.median(p.probes.toSeq)
      run.layer("index.ivf.rows_scanned_per_result") = Stats.median(p.rows.toSeq) / K
    }
  }

  /** `rw_mixed`: the `ann_point` read rotation interleaved with single-row
    * inserts, updates and deletes, with a `maintainIndexes` compaction
    * every [[WritesPerEpoch]] writes. A mirror of the table checks that
    * brute force matches it and that deleted ids never come back. */
  val WritesPerEpoch = 3

  def rwMixed(run: Run, size: Size): Unit = {
    val vectors = new Gen.Mixture(TableSeed, Dim).take(size.n)
    val mix = new Gen.Mixture(run.seed, Dim)
    val db = setUp(run, vectors, size.setupReps)
    val mirror = mutable.LongMap.empty[Array[Double]]
    vectors.indices.foreach(i => mirror(i.toLong) = vectors(i))
    val liveIds = mutable.ArrayBuffer.tabulate(size.n)(_.toLong)
    var nextId = size.n.toLong
    val rnd = new java.util.Random(run.seed * 7919L + 1)
    val reads = new Reads(run)
    val planNodes = mutable.ArrayBuffer.empty[Double]

    def pickLive(): Long = liveIds(rnd.nextInt(liveIds.size))
    def removeLive(id: Long): Unit = {
      val j = liveIds.indexOf(id)
      liveIds(j) = liveIds.last
      liveIds.remove(liveIds.size - 1)
    }
    def write(kind: Int): Unit = {
      kind match {
        case 0 =>
          val v = mix.next()
          run.call("insert")(db.insert(v.toSeq)).foreach { id =>
            run.check(id == nextId, s"insert returned id $id, expected $nextId")
            mirror(id) = v; liveIds += id; nextId = id + 1
          }
        case 1 =>
          val id = pickLive(); val v = mix.next()
          run.call("update")(db.update(id, Some(v.toSeq))).foreach(_ => mirror(id) = v)
        case _ =>
          val id = pickLive()
          run.call("delete")(db.delete(id)).foreach { _ =>
            mirror.remove(id); removeLive(id)
          }
      }
      run.tracer.foreach(_ => planNodes += logicalNodes(db).toDouble)
    }
    // recall is scored on the first epoch's reads, whose queries and
    // table state depend on the seed alone
    def read(method: String, record: Boolean, scored: Boolean): Unit = {
      val q = mix.next()
      // the mirror holds only live rows, so a deleted id fails the check
      reads.search(db, method, q, record).foreach(got =>
        reads.check(method, got, Gen.topK(mirror, q, K), mirror.contains, scored))
    }

    Searches.foreach(read(_, record = false, scored = false)) // warm-up on the clean indexes
    run.startClock()
    var epochs = 0
    // an epoch: writes and reads alternate, then one compaction; the run
    // stops only at an epoch boundary so every run ends compacted
    while (epochs == 0 || run.timeLeft) {
      (0 until WritesPerEpoch).foreach { w =>
        write(w % 3)
        read(Searches(w % Searches.size), record = true, scored = epochs == 0)
      }
      run.call("maintainIndexes")(db.maintainIndexes())
      epochs += 1
    }
    run.metric("ops_per_s", run.callRate(run.latencies.keys.toSeq), "1/s")
    reads.recallMetrics()
    searchP50s(run)
    val writes = Seq("insert", "update", "delete")
    run.p50Metric("write_p50_ms", writes)
    run.tailMetric("write_tail_ms", writes)
    run.setEndToEnd(Searches ++ writes, "ops_per_s", Recalls)
    if (planNodes.nonEmpty) run.layer("api.plan_nodes") = planNodes.sum / planNodes.size
  }

  /** `ann_bulk`: the bulk lifecycle, timed end to end, then batched search
    * over the loaded (parquet-backed, uncached) directory. */
  def annBulk(run: Run, size: Size, queries: Int): Unit = {
    val vectors = new Gen.Mixture(TableSeed, Dim).take(size.n)
    val qs = new Gen.Mixture(run.seed, Dim).stratified(queries)
    val exact = Gen.exactTopK(vectors.indices.map(i => (i.toLong, vectors(i))), qs, K).map(_.map(_._1))
    import run.spark.implicits._
    var qdf: DataFrame = null
    val setupTimes = (0 until size.setupReps).map { _ =>
      if (qdf != null) qdf.unpersist()
      run.wall {
        qdf = qs.indices.map(i => (i.toLong, qs(i).toSeq)).toDF("query_id", "qvec").cache()
        qdf.count()
      }._2
    }
    run.metric("setup_s", Stats.median(setupTimes), "s")
    run.startClock()
    val builds = mutable.ArrayBuffer.empty[Double]
    val qps = mutable.ArrayBuffer.empty[Double]
    val ratios = mutable.ArrayBuffer.empty[Double]
    val recalls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var cycle = 0
    while (cycle == 0 || run.timeLeft) {
      val dir = s"${run.workDir}/bulk$cycle"
      val db = new VectorDb(run.spark, Dim)
      val t0 = System.nanoTime()
      vectors.grouped(math.max(1, vectors.length / InsertChunks)).foreach(c =>
        run.call("batchInsert")(db.batchInsert(asRows(c.toSeq))))
      run.call("save")(db.save(dir))
      run.call("buildIvfIndex")(db.buildIvfIndex())
      run.call("buildHnswIndex")(db.buildHnswIndex(routed = true))
      builds += (System.nanoTime() - t0) / 1e9
      run.call("save")(db.save(dir)) // persists both index layouts beside the table
      ratios += Files.bytes(dir, skip = Set("_scratch")).toDouble / (size.n.toDouble * Dim * 8)
      run.spark.catalog.clearCache()
      run.call("load")(VectorDb.load(run.spark, dir, Dim)).foreach { loaded =>
        var searchS = 0.0
        Seq("ivf", "hnsw").foreach { method =>
          val t1 = System.nanoTime()
          run.call("batchSearchDf")(loaded.batchSearchDf(qdf, K, method).collect()).foreach { got =>
            searchS += (System.nanoTime() - t1) / 1e9
            val byQuery = got.groupBy(_.getAs[Long]("query_id"))
            val rs = recalls.getOrElseUpdate(method, mutable.ArrayBuffer.empty)
            val bad = qs.indices.count { i =>
              val gotIds = byQuery.getOrElse(i.toLong, Array.empty[Row]).map(_.getAs[Long]("id")).toSeq
              if (cycle == 0) rs += Gen.recall(exact(i), gotIds) // each cycle repeats cycle 0
              !(gotIds.size == K && gotIds.distinct.size == K && gotIds.forall(id => id >= 0 && id < size.n))
            }
            run.check(bad == 0, s"batchSearchDf $method: $bad queries without $K distinct existing ids")
          }
        }
        qps += 2 * queries / searchS
      }
      Files.delete(dir)
      cycle += 1
    }
    run.metric("build_s", Stats.median(builds.toSeq), "s")
    if (qps.nonEmpty) run.metric("batch_qps", Stats.median(qps.toSeq), "1/s")
    run.metric("stored_bytes_ratio", Stats.median(ratios.toSeq), "ratio")
    Seq("ivf", "hnsw").foreach(m => recalls.get(m).foreach(rs =>
      run.metric(s"${m}_recall_at_10", rs.sum / rs.size, "ratio")))
    run.setEndToEnd(Seq("batchInsert", "save", "buildIvfIndex", "buildHnswIndex", "load",
      "batchSearchDf"), "batch_qps", Recalls)
  }
}

/** Local-filesystem helpers for the run's own directories. */
object Files {
  def bytes(dir: String, skip: Set[String] = Set.empty): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .filterNot(c => skip(c.getName)).map(walk).sum
      else f.length()
    walk(new java.io.File(dir))
  }

  def delete(dir: String): Unit = {
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
      f.delete()
    }
    walk(new java.io.File(dir))
  }
}
