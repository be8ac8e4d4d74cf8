package graft

import org.apache.spark.sql.functions._

import graft.harness.Recall
import graft.index.{Hnsw, Ivf}
import graft.model.VectorModel
import graft.search.VectorSearch

/** Recall gates for the approximate operators vs the exact oracle — the
  * reference's own methodology (examples/datawhale.py:142-207). */
class RecallSpec extends SparkSpec {

  lazy val lineVecs = VectorModel.lineitemVectors(spark, Sf0001).cache()
  lazy val embeddings = VectorModel.embeddings(spark, Sf0001)
    .withColumn("embedding", col("embedding").cast("array<double>")).cache()

  test("IVF recall@10 on lineitem vectors >= 0.6") {
    val exact = VectorSearch.bruteForceTopK(lineVecs, VectorModel.Query, 10)
    val (assigned, model) = Ivf.fit(lineVecs)
    val approx = Ivf.search(assigned, model, VectorModel.Query, 10, Ivf.defaultRule(model))
    val r = Recall.recallAtK(exact, approx, "id")
    info(s"IVF recall@10 = $r")
    assert(r >= 0.6)
  }

  test("adaptive IVF probing: recall-neutral at fewer probed partitions; probe list adapts to skew") {
    val (assigned, model) = Ivf.fit(lineVecs)
    val sizes = Ivf.clusterSizes(assigned)
    val exact = VectorSearch.bruteForceTopK(lineVecs, VectorModel.Query, 10)
    val fixed = Ivf.search(assigned, model, VectorModel.Query, 10, Ivf.defaultRule(model))
    val adaptive = Ivf.search(assigned, model, VectorModel.Query, 10, Ivf.Adaptive(sizes))
    val rFixed = Recall.recallAtK(exact, fixed, "id")
    val rAdaptive = Recall.recallAtK(exact, adaptive, "id")
    val probed = Ivf.Adaptive(sizes).probes(model, VectorModel.Query, 10)
    info(s"adaptive: recall $rAdaptive over ${probed.size} probes (fixed: $rFixed over 8)")
    // candidate-mass stop scans a fraction of the fixed budget on this
    // corpus (avg cluster ~n/16, 160 candidates ≈ 1-2 clusters) with no
    // recall loss — structure concentrates the answer in the top clusters
    assert(probed.size < 8, s"adaptive should probe fewer partitions, got ${probed.size}")
    assert(rAdaptive >= rFixed - 0.1)
    assert(rAdaptive >= 0.95, s"struct-family adaptive recall $rAdaptive under 0.95")
    // the probe filter is still the pruning predicate over cluster_id
    val plan = adaptive.queryExecution.executedPlan.toString
    assert(plan.contains("cluster_id"), plan.take(2000))
    // skew adaptation is a pure function of the size map: when the
    // most-similar clusters are TINY the walk keeps probing until the
    // candidate mass target is met; when they are HUGE it stops early —
    // the two failure modes a fixed count cannot see
    val ranked = Ivf.Nearest(model.k).probes(model, VectorModel.Query, 10)
    val tinyNearest = ranked.zipWithIndex.map { case (cl, i) =>
      cl -> (if (i < 3) 1L else 1000L)
    }.toMap
    val hugeNearest = ranked.zipWithIndex.map { case (cl, i) =>
      cl -> (if (i == 0) 1000L else 1L)
    }.toMap
    // (a 160-row mass target: overscan 16 at k = 10)
    def walk(sz: Map[Int, Long]) = Ivf.Adaptive(sz).probes(model, VectorModel.Query, 10)
    assert(walk(tinyNearest).size === 4)
    // huge nearest cluster meets the mass target alone, but the boundary
    // floor still consults the runners-up
    assert(walk(hugeNearest).size === 3)
    // degenerate guard: empty/absent sizes still probe at least one cluster
    assert(walk(Map.empty).size === model.k)
  }

  test("stored-IVF serving default is adaptive; reference-parity fixed mode stays pinned") {
    import graft.queries.ApproxQueries
    val exact = VectorSearch.bruteForceTopK(lineVecs, VectorModel.Query, 10)
    val stored = ApproxQueries.queries("vq_ivf_stored_topk")(spark, Sf0001)
    val parity = ApproxQueries.queries("vq_ivf_parity_topk")(spark, Sf0001)
    val rStored = Recall.recallAtK(exact, stored, "id")
    val rParity = Recall.recallAtK(exact, parity, "id")
    val (path, model) = ApproxQueries.ivfLayout(spark, Sf0001)
    val sizes = ApproxQueries.ivfSizes(spark, Sf0001)
    val adaptiveProbes = Ivf.Adaptive(sizes).probes(model, VectorModel.Query, 10)
    info(s"stored default: recall $rStored over ${adaptiveProbes.size} probes " +
      s"(parity: $rParity over ${math.max(model.k / 2, 8)})")
    // the default probes FEWER partitions than the reference rule at no
    // recall cost — the measured case for flipping the default
    assert(adaptiveProbes.size < math.max(model.k / 2, 8))
    assert(rStored >= rParity - 0.1)
    assert(rStored >= 0.95, s"struct-family adaptive default recall $rStored under 0.95")
    // parity mode is bit-for-bit the reference probe rule over the same
    // stored layout — the explicit escape hatch a migrating user pins
    val clustered = spark.read.parquet(path)
    val pin = Ivf.search(clustered, model, VectorModel.Query, 10, Ivf.defaultRule(model))
      .select("id", "sim", "cluster_id")
    assert(parity.collect().map(_.toSeq).toSeq === pin.collect().map(_.toSeq).toSeq)
  }

  // On near-uniform random embeddings, probing 8/16 clusters bounds recall
  // near the scanned fraction (~0.5); the gate checks clustering does not
  // hurt. Structured data (lineitem test above) clears 0.6.
  test("IVF recall@20 on embeddings >= 0.45") {
    val exact = VectorSearch.bruteForceTopK(embeddings, VectorModel.AnnQuery, 20,
      vecCol = "embedding", idCol = "vec_id")
    val (assigned, model) = Ivf.fit(embeddings, vecCol = "embedding", idCol = "vec_id")
    val approx = Ivf.search(assigned, model, VectorModel.AnnQuery, 20,
      Ivf.defaultRule(model), vecCol = "embedding", idCol = "vec_id")
    val r = Recall.recallAtK(exact, approx, "vec_id")
    info(s"IVF embeddings recall@20 = $r")
    assert(r >= 0.45)
  }

  test("ann_ivf_topk adaptive default: at least the fixed rule's recall at no more scan") {
    // the round-14 flip: the registered embeddings entry serves the
    // candidate-mass walk at AnnIvfOverscan = 12 — a 240-row budget at
    // the entry's k=20, the mass the DevIvfEmbSweep frontier showed
    // matches the fixed max(k/2,8) rule's scan on this corpus at
    // equal-or-better recall. ≥0.95 on THIS
    // near-uniform corpus is only reachable at ~full scan (overscan 48 →
    // 0.998 scanned — brute force in disguise), so the high-recall ≥0.95
    // gates live with the structured family above; here the claim is
    // dominance over the fixed rule at the same budget.
    import graft.queries.ApproxQueries
    // sf0.01 throughout: the budget is sized for a real corpus — at
    // sf0.001 overscan·topK covers every row and the walk degenerates to
    // the (correct, but uninformative) full scan. MEAN over the
    // RecallBench query set: single-query recall differences at matched
    // mass are coin flips (the sweep's dominance is a distributional
    // claim, like every operating-point gate here).
    val emb01 = graft.model.VectorModel.embeddings(spark, Sf001)
      .withColumn("embedding", col("embedding").cast("array<double>")).cache()
    val (assigned, model) = Ivf.fit(emb01, vecCol = "embedding", idCol = "vec_id")
    assigned.cache().count()
    val sizes = Ivf.clusterSizes(assigned)
    val total = sizes.values.sum.toDouble
    val queries = (0 until 20).map(graft.model.VectorModel.syntheticQuery)
    val fixedRule = Ivf.defaultRule(model)
    val adaptRule = Ivf.Adaptive(sizes, ApproxQueries.AnnIvfOverscan)
    val (rF, rA, sF, sA) = queries.map { q =>
      val exact = VectorSearch.bruteForceTopK(emb01, q, 20,
        vecCol = "embedding", idCol = "vec_id")
      val fixed = Recall.recallAtK(exact,
        Ivf.search(assigned, model, q, 20, fixedRule,
          vecCol = "embedding", idCol = "vec_id"), "vec_id")
      val adapt = Recall.recallAtK(exact,
        Ivf.search(assigned, model, q, 20, adaptRule,
          vecCol = "embedding", idCol = "vec_id"), "vec_id")
      val scF = fixedRule.probes(model, q, 20).map(c => sizes.getOrElse(c, 0L)).sum / total
      val scA = adaptRule.probes(model, q, 20)
        .map(c => sizes.getOrElse(c, 0L)).sum / total
      (fixed, adapt, scF, scA)
    }.foldLeft((0.0, 0.0, 0.0, 0.0)) { case ((a, b, c, d), (w, x, y, z)) =>
      (a + w / 20, b + x / 20, c + y / 20, d + z / 20)
    }
    info(f"ann_ivf_topk adaptive default: mean recall $rA%.3f at $sA%.3f scanned " +
      f"vs fixed $rF%.3f at $sF%.3f")
    assert(rA >= rF - 0.02,
      s"the adaptive default (mean $rA) must hold the fixed rule's recall ($rF)")
    assert(sA <= sF + 0.01,
      s"the adaptive default must match the fixed rule's mean scan ($sA vs $sF)")
    // and the registered entry serves exactly this operating point
    val registered = ApproxQueries.queries("ann_ivf_topk")(spark, Sf001)
    val pin = Ivf.search(assigned, model, graft.model.VectorModel.AnnQuery, 20,
      adaptRule, vecCol = "embedding", idCol = "vec_id")
      .select("vec_id", "sim", "cluster_id")
    assert(registered.collect().map(_.toSeq).toSeq === pin.collect().map(_.toSeq).toSeq)
  }

  test("sign-LSH recall@20 on embeddings beats its scanned fraction") {
    import graft.index.LshAnn
    val exact = VectorSearch.bruteForceTopK(embeddings, VectorModel.AnnQuery, 20,
      vecCol = "embedding", idCol = "vec_id")
    val planes = LshAnn.hyperplanes(numBits = 4, dim = VectorModel.EmbDim)
    val bucketed = LshAnn.withBuckets(embeddings, "embedding", planes).cache()
    val approx = LshAnn.search(bucketed, planes, VectorModel.AnnQuery, 20,
      vecCol = "embedding", idCol = "vec_id", radius = 2)
    val r = Recall.recallAtK(exact, approx, "vec_id")
    // the recall-gated operating point (EXPLICIT radius 2; the library
    // default stays radius 1 so callers' scan budgets don't move under
    // them) must reach ≥ 0.7 — Hamming-1 measured 0.50 (DevLshBase:
    // radius=1 recall 0.50 at 0.33 scanned; radius=2 recall 0.78 at 0.68
    // scanned, sf0.01, 20 queries)
    val probes = LshAnn.probeBuckets(VectorModel.AnnQuery, planes, radius = 2)
    val scanned = bucketed.where(col("lsh_bucket").isin(probes: _*))
      .count().toDouble / embeddings.count()
    info(f"LSH recall@20 = $r (scanned fraction $scanned%.3f at radius 2)")
    assert(r >= 0.7, s"single-table radius-2 recall $r below the operating point")
    // and it must still beat its scanned fraction, or the buckets carry
    // no signal beyond random subsampling
    assert(r > scanned, s"recall $r does not beat scanned fraction $scanned")
    // the DEFAULT ring (no radius argument — LshAnn.DefaultProbeRadius,
    // pinned radius 1 in LshLifecycleSpec) keeps its tight budget and its
    // measured recall floor; a silent default move fails here
    val r1 = Recall.recallAtK(exact,
      LshAnn.search(bucketed, planes, VectorModel.AnnQuery, 20,
        vecCol = "embedding", idCol = "vec_id"), "vec_id")
    info(s"LSH default-radius recall@20 = $r1")
    assert(r1 >= 0.35)
    assert(r1 < 0.7, "default-radius recall reached the radius-2 operating " +
      "point — did the default silently move? see LshAnn.DefaultProbeRadius")
  }

  test("multi-table sign-LSH: mean recall@10 >= 0.7 at scanned fraction <= 0.4") {
    import graft.index.LshAnn
    val center = LshAnn.meanVector(embeddings, "embedding", VectorModel.EmbDim)
    val tables = LshAnn.tables(LshAnn.DefaultTables, LshAnn.DefaultBits,
      dim = VectorModel.EmbDim, center = center)
    val bucketed = LshAnn.withTableBuckets(embeddings, "embedding", tables).cache()
    val queries = (0 until 6).map { s =>
      VectorModel.syntheticQuery(s)
    }
    val pairs = queries.map { q =>
      (VectorSearch.bruteForceTopK(embeddings, q, 10,
        vecCol = "embedding", idCol = "vec_id"),
        LshAnn.searchMulti(bucketed, tables, q, 10,
          vecCol = "embedding", idCol = "vec_id"))
    }
    val r = Recall.meanRecall(pairs, "vec_id")
    val fracs = queries.map(q => LshAnn.scannedFraction(bucketed, tables, q, 10))
    val frac = fracs.sum / fracs.size
    info(s"multi-table LSH mean recall@10 = $r at mean scanned fraction = $frac")
    // the single 4-bit table caps at ~0.55 recall for ~0.31 scanned; L
    // independent tables compound the miss probability (miss^L) while
    // query-directed probing spends the scan budget on the likeliest
    // flips — a real operating point, not a baseline
    assert(frac <= 0.4, s"scanned fraction $frac must stay under 0.4")
    assert(r >= 0.7)
    // the candidate filter is codegen'd comparisons over precomputed bucket
    // columns — no similarity math outside the candidate set, no NLJ
    val p = pairs.head._2.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop"), p.take(2000))
  }

  test("big-batch LSH operating points: own bucket and the directed walk's gate") {
    import graft.index.LshAnn
    // Measured on the sf0.01 embeddings (500 rows, 6 synthetic queries).
    val (path, model) = graft.queries.ApproxQueries.lshLayout(spark, Sf001)
    val layout = spark.read.parquet(path)
    val emb01 = VectorModel.embeddings(spark, Sf001)
    val bucketed = LshAnn.withTableBuckets(emb01, "embedding", model).cache()
    val nQ = 6
    val qdf = spark.createDataFrame(
      (0 until nQ).map(s => (s.toLong, VectorModel.syntheticQuery(s))))
      .toDF("query_id", "qvec")
    val exact = (0 until nQ).map(s =>
      s.toLong -> VectorSearch.bruteForceTopK(emb01,
        VectorModel.syntheticQuery(s), 10, vecCol = "embedding", idCol = "vec_id")
        .select("vec_id").collect().map(_.getLong(0)).toSet).toMap
    def measure(rule: LshAnn.ProbeRule): (Double, Double) = {
      val byQ = LshAnn.bigBatchSearchStored(layout, model, qdf, 10, rule,
        vecCol = "embedding", idCol = "vec_id")
        .collect().groupBy(_.getLong(0))
      val r = (0 until nQ).map { s =>
        val got = byQ.getOrElse(s.toLong, Array.empty).map(_.getLong(1)).toSet
        exact(s.toLong).intersect(got).size.toDouble / 10
      }.sum / nQ
      val frac = (0 until nQ).map(s => LshAnn.scannedFraction(bucketed, model,
        VectorModel.syntheticQuery(s), 10, rule)).sum / nQ
      (r, frac)
    }
    val (r0, f0) = measure(LshAnn.Directed(1))
    val (r1, f1) = measure(LshAnn.Directed(LshAnn.DefaultProbes))
    info(s"bigbatch LSH Directed(1): recall@10 = $r0 at scanned $f0")
    info(s"bigbatch LSH Directed(${LshAnn.DefaultProbes}): recall@10 = $r1 at scanned $f1")
    // Directed(1) is the throughput/near-dup point: ~0.5% scanned, recall
    // near zero at 10 bits (P[an exact neighbor shares all 10 signs] is
    // tiny — the reason multi-probe exists). Directed(DefaultProbes) is
    // the multi-table operating point and must hold its gate here too.
    assert(f0 <= 0.05, s"own-bucket scan fraction $f0")
    assert(f1 <= 0.4, s"directed scan fraction $f1 must stay under 0.4")
    assert(r1 >= 0.7, s"directed big-batch recall $r1 below the multi-table gate")
    assert(r1 > r0, s"multi-probe must improve recall: $r0 -> $r1")
  }

  test("ADAPTIVE big-batch LSH holds the collected path's recall gate: >= 0.7 at <= 0.4 scanned") {
    import graft.index.LshAnn
    // the registered ann_lsh_bigbatch operating point — the per-row
    // margin-ranked kernel walk — must hold the SAME gate the collected
    // multi-probe path is held to (recall >= 0.7, scanned <= 0.4).
    // Measured at sf0.01 like the directed points above; the
    // candidate-mass budget is the registered entry's (overscan·topK ≈ 700
    // rows, the calibrated serving mass).
    val (path, model) = graft.queries.ApproxQueries.lshLayout(spark, Sf001)
    val sizes = graft.queries.ApproxQueries.lshSizes(spark, Sf001)
    val layout = spark.read.parquet(path)
    val emb01 = VectorModel.embeddings(spark, Sf001)
    val bucketed = LshAnn.withTableBuckets(emb01, "embedding", model).cache()
    val nQ = 6
    val qdf = spark.createDataFrame(
      (0 until nQ).map(s => (s.toLong, VectorModel.syntheticQuery(s))))
      .toDF("query_id", "qvec")
    val exact = (0 until nQ).map(s =>
      s.toLong -> VectorSearch.bruteForceTopK(emb01,
        VectorModel.syntheticQuery(s), 10, vecCol = "embedding", idCol = "vec_id")
        .select("vec_id").collect().map(_.getLong(0)).toSet).toMap
    val rule = LshAnn.Adaptive(sizes, 70) // overscan·k = 700 at the gate's k=10
    val byQ = LshAnn.bigBatchSearchStored(layout, model, qdf, 10, rule,
      vecCol = "embedding", idCol = "vec_id")
      .collect().groupBy(_.getLong(0))
    val r = (0 until nQ).map { s =>
      val got = byQ.getOrElse(s.toLong, Array.empty).map(_.getLong(1)).toSet
      exact(s.toLong).intersect(got).size.toDouble / 10
    }.sum / nQ
    // scanned fraction under the same rule (the collected resolution runs
    // the same walk as the per-row kernel)
    val frac = (0 until nQ).map(s => LshAnn.scannedFraction(bucketed, model,
      VectorModel.syntheticQuery(s), 10, rule)).sum / nQ
    info(s"adaptive big-batch LSH recall@10 = $r at mean scanned $frac")
    assert(r >= 0.7, s"adaptive big-batch recall $r must hold the collected gate")
    assert(frac <= 0.4, s"scanned fraction $frac must stay under 0.4")
  }

  test("ADAPTIVE LSH stops under the per-table cap at a budget below the corpus size") {
    import graft.index.LshAnn
    // the serving budgets (overscan·k ≈ 700 rows) exceed the 500-row
    // sf0.01 corpus, so there the walk runs to the DefaultProbes cap on
    // every query and reads as Directed(DefaultProbes). A 100-row budget
    // (overscan 10 at k = 10) is below the corpus, so the mass stop must
    // end each walk early — and recall must hold the floor measured at it
    // (recall 0.517 at 45.5 mean probes per table on the six queries).
    val (path, model) = graft.queries.ApproxQueries.lshLayout(spark, Sf001)
    val sizes = graft.queries.ApproxQueries.lshSizes(spark, Sf001)
    val corpus = sizes.head.sum // every table holds every row
    val rule = LshAnn.Adaptive(sizes, 10)
    assert(10L * 10 < corpus, s"budget must be below the $corpus-row corpus")
    val emb01 = VectorModel.embeddings(spark, Sf001)
    val bucketed = LshAnn.withTableBuckets(emb01, "embedding", model).cache()
    val qs = (0 until 6).map(VectorModel.syntheticQuery)
    val meanProbes = qs.map(q => LshAnn.probeSets(model, rule, q, 10).map(_.size).sum)
      .sum.toDouble / qs.size / model.numTables
    val recall = qs.map { q =>
      val exact = VectorSearch.bruteForceTopK(emb01, q, 10,
        vecCol = "embedding", idCol = "vec_id")
      Recall.recallAtK(exact, LshAnn.searchMulti(bucketed, model, q, 10, rule,
        vecCol = "embedding", idCol = "vec_id"), "vec_id")
    }.sum / qs.size
    info(f"adaptive LSH at a 100-row budget: recall@10 = $recall%.3f at " +
      f"$meanProbes%.1f mean probes per table (cap ${LshAnn.DefaultProbes})")
    assert(meanProbes < LshAnn.DefaultProbes,
      s"the mass stop must fire under the ${LshAnn.DefaultProbes}-probe cap, got $meanProbes")
    assert(recall >= 0.5, s"adaptive recall $recall under the measured floor")
    bucketed.unpersist()
  }

  test("HNSW recall@10 on lineitem vectors >= 0.8") {
    val exact = VectorSearch.bruteForceTopK(lineVecs, VectorModel.Query, 10)
    val approx = Hnsw.hnswTopK(lineVecs, VectorModel.Query, 10, numPartitions = 8)
    val r = Recall.recallAtK(exact, approx, "id")
    info(s"HNSW recall@10 = $r")
    assert(r >= 0.8)
  }

  test("HNSW search over the persisted graph equals a fresh build") {
    import graft.index.{Hnsw, HnswStore}
    val vecs = graft.model.VectorModel.lineitemVectors(spark, Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_store").toString
    HnswStore.save(vecs, s"$dir/g", numPartitions = 8)
    val stored = HnswStore.search(spark, s"$dir/g", graft.model.VectorModel.Query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fresh = Hnsw.hnswTopK(vecs, graft.model.VectorModel.Query, 10, numPartitions = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored === fresh)
    assert(stored.nonEmpty)
  }

  test("stored-graph batch equals fresh-build batch; serving plan has no index shuffle") {
    import graft.index.{Hnsw, HnswStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_sb").toString
    HnswStore.save(lineVecs, s"$dir/g", numPartitions = 8)
    val queries = (0 until 3).map(s =>
      (s.toLong, Seq(25.0 + s, 30.0, 0.5, 0.5, 0.5, 0.5, 0.5, 1.0 + s)))
    val storedDf = HnswStore.batchSearch(spark, s"$dir/g", queries, 5)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val fresh = Hnsw.hnswBatchTopK(lineVecs, queries, 5, numPartitions = 8)
    assert(keyed(storedDf) === keyed(fresh))
    // one-file-per-graph layout: restore runs in place, no exchange
    // before the per-partition search (only the final top-k merge remains)
    val p = HnswStore.search(spark, s"$dir/g", VectorModel.Query, 10)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      "stored-graph serving must not shuffle the index:\n" + p.take(3000))
  }

  test("batch HNSW equals per-query HNSW result for result") {
    val queries = (0 until 3).map { s =>
      (s.toLong, VectorModel.syntheticQuery(s))
    }
    val batch = Hnsw.hnswBatchTopK(embeddings, queries, 10, numPartitions = 4,
      vecCol = "embedding", idCol = "vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    val single = queries.flatMap { case (qid, q) =>
      Hnsw.hnswTopK(embeddings, q, 10, numPartitions = 4,
        vecCol = "embedding", idCol = "vec_id")
        .collect().zipWithIndex
        .map { case (r, i) => (qid, (i + 1).toLong, r.getLong(0), r.getDouble(1)) }
    }.sorted.toSeq
    assert(batch === single)
  }

  test("filtered HNSW (fresh build, filter-first) recall >= 0.8 vs filtered brute") {
    val f = Some(col("category") === "R")
    val exact = VectorSearch.bruteForceTopK(lineVecs, VectorModel.Query, 10, f)
    val approx = Hnsw.hnswTopK(lineVecs, VectorModel.Query, 10,
      numPartitions = 8, filter = f)
    // filter-first: every returned row satisfies the predicate exactly
    val cats = approx.join(lineVecs.select("id", "category"), "id")
      .select("category").collect().map(_.getString(0))
    assert(cats.nonEmpty && cats.forall(_ == "R"))
    val r = Recall.recallAtK(exact, approx, "id")
    info(s"filtered HNSW recall@10 = $r")
    assert(r >= 0.8)
  }

  test("IVF batch equals per-query IVF search result") {
    val (assigned, model) = Ivf.fit(lineVecs)
    val queries = (0 until 3).map { s =>
      (s.toLong, Seq(25.0 + s, 30.0, 0.5, 0.5, 0.5, 0.5, 0.5, 1.0 + s))
    }
    val batch = Ivf.batchSearch(assigned, model, queries, 5, Ivf.defaultRule(model))
      .collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    val single = queries.flatMap { case (qid, q) =>
      Ivf.search(assigned, model, q, 5, Ivf.defaultRule(model))
        .select("id", "sim").collect().zipWithIndex
        .map { case (r, i) => (qid, (i + 1).toLong, r.getLong(0), r.getDouble(1)) }
    }.sorted.toSeq
    assert(batch === single)
    assert(batch.nonEmpty)
  }

  test("IVF knn join: no broadcast of data, recall beats its scanned fraction") {
    val (_, model) = Ivf.fit(embeddings, vecCol = "embedding", idCol = "vec_id")
    val approx = Ivf.knnJoin(embeddings, model, 3, nProbes = 2,
      vecCol = "embedding", idCol = "vec_id").cache()
    // exact global top-3 per row via the window baseline over a cross join
    val exact = VectorSearch.batchTopKWindow(
      embeddings.select(col("vec_id").as("id"), col("embedding").as("vector")),
      embeddings.select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
      4, queryIdCol = "query_id", queryVecCol = "qvec")
      .where(col("id") =!= col("query_id"))
      .withColumn("rn2", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("id").asc)))
      .where(col("rn2") <= 3)
    def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ex = pairs(exact, "query_id", "id")
    val ap = pairs(approx, "query_id", "id")
    val recall = ex.intersect(ap).size.toDouble / ex.size
    info(s"IVF knn-join recall@3 = $recall")
    // probing 2/16 clusters scans ~12.5% of near-uniform data; the join
    // must beat that baseline to show clusters correlate with cosine
    assert(recall >= 0.2)
    // scale shape: the data side is never broadcast
    val p = approx.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      "knn join must not broadcast a table side:\n" + p.take(3000))
  }

  test("IVF-PQ with exact refine: recall within 90% of plain IVF, codes are m bytes") {
    import graft.index.IvfPq
    val exact = VectorSearch.bruteForceTopK(embeddings, VectorModel.AnnQuery, 20,
      vecCol = "embedding", idCol = "vec_id")
    val (encoded, model) = IvfPq.build(embeddings, VectorModel.EmbDim,
      vecCol = "embedding", idCol = "vec_id")
    assert(encoded.select(max(length(col("pq_code")))).head.getInt(0) === 8)
    val approx = IvfPq.search(encoded, model, VectorModel.AnnQuery, 20,
      Ivf.defaultRule(model.ivf), refineFrom = Some(embeddings), vecCol = "embedding",
      idCol = "vec_id")
    val r = Recall.recallAtK(exact, approx, "vec_id")
    // same probed fraction as plain IVF; ADC candidate selection plus the
    // exact 4k refine must not lose more than a sliver vs scanning raw
    // vectors in the probed clusters
    val (assignedRaw, ivfModel) = Ivf.fit(embeddings, vecCol = "embedding", idCol = "vec_id")
    val ivfOnly = Ivf.search(assignedRaw, ivfModel, VectorModel.AnnQuery, 20,
      Ivf.defaultRule(ivfModel), vecCol = "embedding", idCol = "vec_id")
    val rIvf = Recall.recallAtK(exact, ivfOnly, "vec_id")
    info(s"IVF-PQ recall@20 = $r (plain IVF = $rIvf)")
    assert(r >= 0.9 * rIvf)
    assert(r >= 0.35)
    // every refined similarity must equal the exact operator's for that id
    val exactSims = exact.collect().map(row => row.getLong(0) -> row.getDouble(row.fieldIndex("sim"))).toMap
    approx.collect().foreach { row =>
      val id = row.getLong(0)
      exactSims.get(id).foreach(s => assert(row.getDouble(1) === s))
    }
  }

  test("IVF-PQ adaptive probing: near-fixed recall at a fraction of the probed partitions") {
    import graft.index.IvfPq
    val (encoded, model) = IvfPq.build(lineVecs, 8)
    val sizes = Ivf.clusterSizes(encoded)
    val exact = VectorSearch.bruteForceTopK(lineVecs, VectorModel.Query, 10)
    val fixed = IvfPq.search(encoded, model, VectorModel.Query, 10,
      Ivf.defaultRule(model.ivf), refineFrom = Some(lineVecs))
    val adaptive = IvfPq.search(encoded, model, VectorModel.Query, 10,
      Ivf.Adaptive(sizes), refineFrom = Some(lineVecs))
    val rFixed = Recall.recallAtK(exact, fixed, "id")
    val rAdaptive = Recall.recallAtK(exact, adaptive, "id")
    val probed = Ivf.Adaptive(sizes).probes(model.ivf, VectorModel.Query, 10)
    info(s"IVF-PQ adaptive recall $rAdaptive over ${probed.size} probes (fixed $rFixed over 8)")
    // the subject is the PROBING knob composing into the IVFADC path —
    // adaptive must not lose recall vs fixed while probing a fraction of
    // the partitions. (Absolute PQ recall on this degenerate 8-dim
    // fixture is poor for BOTH paths; quantization quality gates are the
    // embeddings-based IVF-PQ tests above.)
    assert(probed.size < 8)
    assert(rAdaptive >= rFixed - 0.1)
  }

  test("adaptive batch equals per-query adaptive search (IVF and IVF-PQ)") {
    import graft.index.IvfPq
    val (assigned, model) = Ivf.fit(lineVecs)
    val sizes = Ivf.clusterSizes(assigned)
    val queries = (0 until 3).map(s =>
      (s.toLong, Seq(25.0 + s, 30.0, 0.5, 0.5, 0.5, 0.5, 0.5, 1.0 + s)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val batch = rows(Ivf.batchSearch(assigned, model, queries, 5, Ivf.Adaptive(sizes)))
    val single = queries.flatMap { case (qid, q) =>
      Ivf.search(assigned, model, q, 5, Ivf.Adaptive(sizes))
        .select("id", "sim").collect().zipWithIndex
        .map { case (r, i) => (qid, (i + 1).toLong, r.getLong(0), r.getDouble(1)) }
    }.sorted.toSeq
    assert(batch === single)
    assert(batch.nonEmpty)
    val (encoded, pqModel) = IvfPq.build(lineVecs, 8)
    val pqSizes = Ivf.clusterSizes(encoded)
    val pqBatch = rows(IvfPq.batchSearch(encoded, pqModel, queries, 5,
      Ivf.Adaptive(pqSizes), refineFrom = lineVecs))
    val pqSingle = queries.flatMap { case (qid, q) =>
      IvfPq.search(encoded, pqModel, q, 5, Ivf.Adaptive(pqSizes),
        refineFrom = Some(lineVecs))
        .collect().zipWithIndex
        .map { case (r, i) => (qid, (i + 1).toLong, r.getLong(0), r.getDouble(1)) }
    }.sorted.toSeq
    assert(pqBatch === pqSingle)
    assert(pqBatch.nonEmpty)
  }

  test("IVF drift signal rises on distribution shift, guiding the refit decision") {
    val (assigned, model) = Ivf.fit(embeddings, vecCol = "embedding", idCol = "vec_id")
    val base = Ivf.meanAssignmentDistance(assigned, model, "embedding")
    // same model over shifted data = the ingest-drift scenario: assignment
    // still works but distances grow, which is the refit trigger
    val shifted = embeddings.withColumn("embedding",
      transform(col("embedding"), x => x * 3.0 + 1.0))
    val drifted = Ivf.meanAssignmentDistance(
      Ivf.assign(shifted, model, "embedding"), model, "embedding")
    info(s"mean assignment distance: fitted=$base drifted=$drifted")
    assert(base > 0.0)
    assert(drifted > base * 1.5, "shifted data must score clearly higher")
  }

  test("IVF-PQ batch equals per-query IVF-PQ search result") {
    import graft.index.IvfPq
    val (encoded, model) = IvfPq.build(embeddings, VectorModel.EmbDim,
      vecCol = "embedding", idCol = "vec_id")
    val queries = graft.queries.ApproxQueries.annBatchQueries(3)
    // identical candidate ordering (adc desc, id asc) and identical exact
    // refine -> the batch rows must match the single-query operator row
    // for row, not just in recall
    val batch = IvfPq.batchSearch(encoded, model, queries, 5, Ivf.defaultRule(model.ivf),
      refineFrom = embeddings, vecCol = "embedding", idCol = "vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    val single = queries.flatMap { case (qid, q) =>
      IvfPq.search(encoded, model, q, 5, Ivf.defaultRule(model.ivf),
        refineFrom = Some(embeddings), vecCol = "embedding", idCol = "vec_id")
        .collect().zipWithIndex
        .map { case (r, i) => (qid, (i + 1).toLong, r.getLong(0), r.getDouble(1)) }
    }.sorted.toSeq
    assert(batch === single)
    assert(batch.nonEmpty)
  }

  test("routed stored-HNSW: recall vs the all-shards path at half the shards probed") {
    import graft.index.HnswStore
    import graft.index.HnswStore.{Adaptive, Nearest}
    // the baseline in both halves is the ALL-shards fan-out over the SAME
    // layout (the default AllShards rule ignores the routing sidecar and
    // restores every graph) —
    // isolating exactly what routing costs: neighbors whose shard the
    // centroid scoring did not probe.
    // (a) structured vectors (the lineitem view, where clustering carries
    // real signal — IVF clears 1.0 here): routing must be near-lossless
    val dirL = java.nio.file.Files.createTempDirectory("graft_hnsw_routed_l").toString
    HnswStore.saveRouted(lineVecs, s"$dirL/g", numShards = 8)
    val lineQueries = (0 until 6).map(s =>
      Seq(25.0 + s, 30.0, 0.5, 0.5, 0.5, 0.5, 0.5, 1.0 + s))
    val linePairs = lineQueries.map { q =>
      (HnswStore.search(spark, s"$dirL/g", q, 10),
        HnswStore.search(spark, s"$dirL/g", q, 10, Nearest(4)))
    }
    val rl = Recall.meanRecall(linePairs, "id")
    info(s"routed HNSW (structured) recall@10 vs all-shards at probes=4/8 = $rl")
    assert(rl >= 0.9)
    // (a2) shard growth: the 100× knob. A FIXED probe fraction must keep
    // recall as shards multiply (DevRoutedSweep measures 0.985 at 8/64 on
    // the 600k-row corpus; this is the same gate at test scale, ~94
    // rows/shard).
    val dir64 = java.nio.file.Files.createTempDirectory("graft_hnsw_routed_64").toString
    HnswStore.saveRouted(lineVecs, s"$dir64/g", numShards = 64)
    val pairs64 = lineQueries.map { q =>
      (HnswStore.search(spark, s"$dir64/g", q, 10),
        HnswStore.search(spark, s"$dir64/g", q, 10, Nearest(8)))
    }
    val r64 = Recall.meanRecall(pairs64, "id")
    info(s"routed HNSW (structured) recall@10 vs all-shards at probes=8/64 = $r64")
    assert(r64 >= 0.9)
    // (a3) ADAPTIVE probing — the serving default: the radius-margin walk
    // over the routing stats must hold the recall gate, stay under its
    // probe cap, and actually ADAPT (per-query probe counts vary with the
    // query's centroid-distance curve — the mechanism). The
    // fewer-mean-probes-than-fixed-8-at-higher-recall claim is measured
    // where the geometry is real, on the sf0.1 sweep (RECALL.md round 8:
    // mean 5.5 probes, recall 0.995 vs fixed-8's 0.985); at this toy
    // scale shards hold ~94 rows, the radius is large relative to
    // centroid separation, and the walk correctly probes MORE.
    val adaptive = Adaptive(HnswStore.routedStats(spark, s"$dir64/g"))
    val pairsAd = lineQueries.map { q =>
      (HnswStore.search(spark, s"$dir64/g", q, 10),
        HnswStore.search(spark, s"$dir64/g", q, 10, adaptive))
    }
    val rAd = Recall.meanRecall(pairsAd, "id")
    val probedCounts = lineQueries.map(q =>
      HnswStore.probedShards(spark, s"$dir64/g", q, 10, adaptive).get.size)
    val meanProbed = probedCounts.sum.toDouble / lineQueries.size
    info(f"routed HNSW adaptive recall@10 vs all-shards at 64 shards = $rAd " +
      f"(probed ${probedCounts.min}..${probedCounts.max}, mean $meanProbed%.1f, cap ${HnswStore.MaxAdaptiveProbes})")
    assert(rAd >= 0.9)
    assert(probedCounts.max <= HnswStore.MaxAdaptiveProbes)
    assert(probedCounts.distinct.size > 1,
      "the probe count must vary per query — a constant count means the margin never binds")
    // (b) near-uniform random embeddings: no clustering can carry more
    // signal than the scanned fraction baseline (the same bound the IVF
    // 0.45 and LSH 0.35 gates state) — routing must clearly beat the 0.5
    // fraction it scans to show centroids correlate with cosine at all
    val dirE = java.nio.file.Files.createTempDirectory("graft_hnsw_routed_e").toString
    HnswStore.saveRouted(embeddings, s"$dirE/g", numShards = 8,
      vecCol = "embedding", idCol = "vec_id")
    val embQueries = (0 until 8).map { s =>
      VectorModel.syntheticQuery(s)
    }
    val embPairs = embQueries.map { q =>
      (HnswStore.search(spark, s"$dirE/g", q, 10, idCol = "vec_id"),
        HnswStore.search(spark, s"$dirE/g", q, 10, Nearest(4), idCol = "vec_id"))
    }
    val re = Recall.meanRecall(embPairs, "vec_id")
    info(s"routed HNSW (uniform) recall@10 vs all-shards at probes=4/8 = $re")
    assert(re >= 0.55)
  }

  test("HNSW recall@10 on embeddings over multiple queries >= 0.8 mean") {
    val queries = (0 until 5).map { s =>
      VectorModel.syntheticQuery(s)
    }
    val pairs = queries.map { q =>
      (VectorSearch.bruteForceTopK(embeddings, q, 10, vecCol = "embedding", idCol = "vec_id"),
        Hnsw.hnswTopK(embeddings, q, 10, numPartitions = 4,
          vecCol = "embedding", idCol = "vec_id"))
    }
    val r = Recall.meanRecall(pairs, "vec_id")
    info(s"HNSW mean recall@10 over ${queries.size} queries = $r")
    assert(r >= 0.8)
  }
}
