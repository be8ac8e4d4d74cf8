package graft

import org.apache.spark.sql.functions._

import graft.index.LshAnn
import graft.model.VectorModel

/** The persisted sign-LSH inverted-list layout: stored serving must equal
  * the in-memory multi-table search (identical candidate semantics), the
  * probe disjunction must land on the layout's PARTITION columns (file
  * pruning, not a post-scan filter), and results must not depend on any
  * unprobed bucket's files — the same evidence ladder as the routed-HNSW
  * layout (HnswStoreSpec). */
class LshStoreSpec extends SparkSpec {

  lazy val embeddings = VectorModel.embeddings(spark, Sf0001)
    .withColumn("embedding", col("embedding").cast("array<double>")).cache()

  private val Bits = 6 // small bucket space keeps the test layout's dir count sane
  private val Probes = 12

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select("vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("stored serving equals in-memory multi-table search; probe filter prunes partitions; unprobed dirs are dead") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_store").toString
    // pin the full-width group granularity: this test asserts DIR-level
    // behavior (unprobed dirs exist and are dead), which the derived
    // shift legitimately coarsens away on a fixture-sized corpus
    val model = LshAnn.saveBucketed(embeddings, "embedding", "vec_id",
      s"$dir/t", VectorModel.EmbDim, numBits = Bits,
      groupShift = LshAnn.BucketGroupShift)

    // parity: the stored candidate set is the same union-over-tables set
    val bucketed = LshAnn.withTableBuckets(embeddings, "embedding", model)
    val mem = pairs(LshAnn.searchMulti(bucketed, model, VectorModel.AnnQuery, 10,
      LshAnn.Directed(Probes), vecCol = "embedding", idCol = "vec_id"))
    val storedDf = LshAnn.searchStored(spark.read.parquet(s"$dir/t"), model,
      VectorModel.AnnQuery, 10, LshAnn.Directed(Probes), vecCol = "embedding", idCol = "vec_id")
    val stored = pairs(storedDf)
    assert(stored === mem)
    assert(stored.nonEmpty)

    // the probe disjunction's GROUP conjunct must appear as a partition
    // filter (dir/file pruning at planning time), and the exact-bucket
    // conjunct must be PUSHED to the parquet reader (row-group pruning
    // over the in-file bucket sort)
    val plan = storedDf.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*lsh_bgroup""".r.findFirstIn(plan).isDefined,
      "probe group filter must appear as a partition filter:\n" + plan.take(3000))
    assert("""PushedFilters: \[[^\]]*lsh_bucket""".r.findFirstIn(plan).isDefined,
      "exact bucket filter must be pushed to the reader:\n" + plan.take(3000))
    // the payload fetch must be pruned DYNAMICALLY: the home-group join
    // key is a partition column and the pointer side is broadcast, so the
    // plan carries a dynamic pruning expression on the fetch scan — the
    // mechanism that replaced the driver-side home-set collect
    assert(plan.contains("dynamicpruning"),
      "payload fetch must be pruned via dynamic partition pruning:\n" + plan.take(3000))

    // the payload is stored ONCE (table 0); tables ≥ 1 are id+home pointers
    val layoutDf = spark.read.parquet(s"$dir/t")
    assert(layoutDf.where(col("lsh_table") > 0 && col("embedding").isNotNull)
      .count() === 0L)
    assert(layoutDf.where(col("lsh_table") === 0 && col("embedding").isNotNull)
      .count() === embeddings.count())

    // sidecar round-trip: the model re-derives from (seed, mean)
    val reloaded = LshAnn.loadTables(spark, s"$dir/t")
    assert(reloaded.planes.flatten.flatten.toSeq === model.planes.flatten.flatten.toSeq)
    assert(reloaded.biases.flatten.toSeq === model.biases.flatten.toSeq)

    // file-level proof: delete every (table, group) dir outside the
    // serve's dependency set — the probed buckets' group dirs plus the
    // table-0 home group dirs pointer candidates fetch their payload
    // from; stored results are unchanged, so serving reads nothing else
    val probed = LshAnn.dependencyDirs(spark.read.parquet(s"$dir/t"), model,
      VectorModel.AnnQuery, 10, LshAnn.Directed(Probes))
    val (fs, p) = graft.store.Fs.pathFs(spark, s"$dir/t")
    val removed = fs.listStatus(p)
      .filter(_.getPath.getName.startsWith("lsh_table="))
      .flatMap { td =>
        val t = td.getPath.getName.stripPrefix("lsh_table=").toInt
        fs.listStatus(td.getPath)
          .filter(_.getPath.getName.startsWith("lsh_bgroup="))
          .filterNot(bd =>
            probed((t, bd.getPath.getName.stripPrefix("lsh_bgroup=").toInt)))
      }
    assert(removed.nonEmpty, "some buckets must be unprobed at this operating point")
    removed.foreach(s => fs.delete(s.getPath, true))
    val after = pairs(LshAnn.searchStored(spark.read.parquet(s"$dir/t"), model,
      VectorModel.AnnQuery, 10, LshAnn.Directed(Probes), vecCol = "embedding", idCol = "vec_id"))
    assert(after === stored,
      "stored serving must not depend on any unprobed bucket's files")
  }

  test("batch stored serving equals per-query stored serving; union probe filter prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_batch").toString
    // pinned like the single-query dir-granularity test above: the
    // INSET-partition-filter assertion needs >1 group dir per table
    val model = LshAnn.saveBucketed(embeddings, "embedding", "vec_id",
      s"$dir/t", VectorModel.EmbDim, numBits = Bits,
      groupShift = LshAnn.BucketGroupShift)
    val layout = spark.read.parquet(s"$dir/t")
    val queries = (0 until 4).map(s => (s.toLong, VectorModel.syntheticQuery(s)))
    val batchDf = LshAnn.batchSearchStored(layout, model, queries, 10,
      LshAnn.Directed(Probes), vecCol = "embedding", idCol = "vec_id")
    val batch = batchDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = queries.flatMap { case (qid, q) =>
      LshAnn.searchStored(spark.read.parquet(s"$dir/t"), model, q, 10,
        LshAnn.Directed(Probes), vecCol = "embedding", idCol = "vec_id")
        .select("vec_id", "sim")
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.toSet
    assert(batch === single)
    assert(batch.nonEmpty)
    // the union-of-queries probe group disjunction must still be a
    // partition filter — one pruned scan for the whole batch — with the
    // exact-bucket conjunct pushed to the reader
    val plan = batchDf.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*lsh_bgroup""".r.findFirstIn(plan).isDefined,
      "union probe group filter must appear as a partition filter:\n" + plan.take(3000))
    // the STATIC group INSET must appear — that is the ADMISSION scan's
    // partition filter specifically. The payload-fetch scan also carries a
    // bgroup entry, but as a dynamicpruning expression, so the weaker
    // regex above passes even if the admission scan loses its pruning (a
    // mixed table∧bucket OR qualifies as neither filter kind — the exact
    // regression a round-9 review found here)
    // static set prints as `INSET …` (large sets) or `IN (…)` (small);
    // the fetch scan's dynamic entry prints `IN dynamicpruning#N` — no
    // paren — so this regex cannot be satisfied by the fetch scan alone
    assert("""PartitionFilters: \[[^\]]*lsh_bgroup#\d+ (INSET|IN \()""".r
        .findFirstIn(plan).isDefined,
      "admission scan must carry the static union-group partition filter:\n" +
        plan.take(3000))
    assert("""PushedFilters: \[[^\]]*lsh_bucket""".r.findFirstIn(plan).isDefined,
      "exact bucket filter must be pushed to the reader:\n" + plan.take(3000))
    // file-level proof for the batch: delete every dir outside the UNION
    // of the queries' dependency sets (probed group dirs + table-0 home
    // group dirs); batch results unchanged — one pruned scan, nothing
    // else read
    val dep = queries.flatMap { case (_, q) =>
      LshAnn.dependencyDirs(spark.read.parquet(s"$dir/t"), model, q, 10,
        LshAnn.Directed(Probes))
    }.toSet
    val (fs, p) = graft.store.Fs.pathFs(spark, s"$dir/t")
    val removed = fs.listStatus(p)
      .filter(_.getPath.getName.startsWith("lsh_table="))
      .flatMap { td =>
        val t = td.getPath.getName.stripPrefix("lsh_table=").toInt
        fs.listStatus(td.getPath)
          .filter(_.getPath.getName.startsWith("lsh_bgroup="))
          .filterNot(bd =>
            dep((t, bd.getPath.getName.stripPrefix("lsh_bgroup=").toInt)))
      }
    assert(removed.nonEmpty, "some buckets must be outside the batch's dependency set")
    removed.foreach(s => fs.delete(s.getPath, true))
    val after = LshAnn.batchSearchStored(spark.read.parquet(s"$dir/t"), model,
      queries, 10, LshAnn.Directed(Probes), vecCol = "embedding", idCol = "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(after === batch,
      "batch serving must not depend on any dir outside the union dependency set")
  }

  test("drift maintenance: appended drifted rows trigger a recentered rebuild identical to a fresh build") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_maint").toString
    // deploy on the historical half; its mean is the frozen sidecar center
    val first = embeddings.where(col("vec_id") % 2 === 0)
    val model0 = LshAnn.saveBucketed(first, "embedding", "vec_id",
      s"$dir/t", VectorModel.EmbDim, numBits = Bits)
    // the ingest contract: a DRIFTED batch (constant offset moves the
    // corpus mean) appends under the deployed model
    val drifted = embeddings.where(col("vec_id") % 2 === 1)
      .withColumn("embedding",
        transform(col("embedding"), x => x + lit(5.0)))
    LshAnn.appendBucketed(drifted, s"$dir/t", model0,
      vecCol = "embedding", idCol = "vec_id")
    val drift = LshAnn.centerDrift(spark, s"$dir/t")
    assert(drift > 0.0)
    // below threshold: no-op, same model, layout untouched
    val files0 = spark.read.parquet(s"$dir/t").inputFiles.toSet
    val (same, refitted0) = LshAnn.maintainBucketed(spark, s"$dir/t", drift + 1.0)
    assert(!refitted0)
    assert(same.biases.flatten.toSeq === model0.biases.flatten.toSeq)
    assert(spark.read.parquet(s"$dir/t").inputFiles.toSet === files0)
    // above threshold: recentered rebuild from the layout's own payload —
    // IDENTICAL to a fresh build over the same rows (same seed, fresh mean)
    val (model1, refitted1) = LshAnn.maintainBucketed(spark, s"$dir/t", drift / 2)
    assert(refitted1)
    assert(model1.biases.flatten.toSeq !== model0.biases.flatten.toSeq)
    val freshDir = java.nio.file.Files.createTempDirectory("graft_lsh_fresh").toString
    val allRows = first.select(col("vec_id"), col("embedding"))
      .unionByName(drifted.select(col("vec_id"), col("embedding")))
    val freshModel = LshAnn.saveBucketed(allRows, "embedding", "vec_id",
      s"$freshDir/t", VectorModel.EmbDim, numBits = Bits)
    // the two means come from avg() over DIFFERENT physical plans (stored
    // layout vs in-memory union), whose partial sums can differ in the
    // last ulp — compare with tolerance, not bit equality
    model1.biases.flatten.toSeq.zip(freshModel.biases.flatten.toSeq)
      .foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)), s"$a vs $b")
      }
    val q = VectorModel.syntheticQuery(1)
    val maintained = LshAnn.searchStored(spark.read.parquet(s"$dir/t"), model1,
      q, 10, LshAnn.Directed(Probes), vecCol = "embedding", idCol = "vec_id")
      .select("vec_id", "sim").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fresh = LshAnn.searchStored(spark.read.parquet(s"$freshDir/t"), freshModel,
      q, 10, LshAnn.Directed(Probes), vecCol = "embedding", idCol = "vec_id")
      .select("vec_id", "sim").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(maintained === fresh)
    assert(maintained.nonEmpty)
    // the rebuild recentered: drift against the new sidecar is ~0
    assert(LshAnn.centerDrift(spark, s"$dir/t") < 1e-9)
  }

  test("adaptive probe budget: own bucket always probed, sets monotone in budget, saturating budget degenerates to fixed, small budget serves its own candidate top-k") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_adapt").toString
    val model = LshAnn.saveBucketed(embeddings, "embedding", "vec_id",
      s"$dir/t", VectorModel.EmbDim, numBits = Bits)
    val layout = spark.read.parquet(s"$dir/t")
    val sizes = LshAnn.bucketSizes(layout)
    assert(sizes.map(_.sum).sum === embeddings.count() * model.numTables)
    val q = VectorModel.AnnQuery
    def sets(rule: LshAnn.ProbeRule, k: Int) = LshAnn.probeSets(model, rule, q, k)

    // every table's own (cost-0) bucket survives even a 1-row budget
    val tiny = sets(LshAnn.Adaptive(sizes, 1), 1)
    val own = sets(LshAnn.Directed(1), 1)
    (0 until model.numTables).foreach { t =>
      assert(own(t).size === 1)
      assert(tiny(t).head === own(t).head)
    }
    // a larger budget never drops a probed bucket (monotone walk)
    val budgets = Seq(1, 5, 20, 100, 1000000)
    budgets.map(b => sets(LshAnn.Adaptive(sizes, b), 1))
      .sliding(2).foreach { case Seq(a, b) =>
        (0 until model.numTables).foreach(t =>
          assert(a(t).toSet.subsetOf(b(t).toSet)))
      case _ => ()
    }
    // a budget beyond the corpus degenerates to exactly the directed sets
    // at the walk's cap — adaptivity only ever SHRINKS the probe list
    val sat = sets(LshAnn.Adaptive(sizes, 1000000), 10)
    val directed = sets(LshAnn.Directed(LshAnn.DefaultProbes), 10)
    (0 until model.numTables).foreach { t =>
      assert(sat(t).toSet === directed(t).toSet)
    }
    // end-to-end: saturating adaptive serving == directed stored serving
    val fixed = pairs(LshAnn.searchStored(layout, model, q, 10,
      LshAnn.Directed(LshAnn.DefaultProbes), vecCol = "embedding", idCol = "vec_id"))
    val adaptSat = pairs(LshAnn.searchStored(layout, model, q, 10,
      LshAnn.Adaptive(sizes, 1000000), vecCol = "embedding", idCol = "vec_id"))
    assert(adaptSat === fixed)

    // a SMALL budget serves exactly the cosine top-k of its own candidate
    // union — computed independently driver-side from the bucketed rows
    val small = LshAnn.Adaptive(sizes, 2)
    val topK = 5
    val smallSets = sets(small, topK)
    val smallRes = pairs(LshAnn.searchStored(layout, model, q, topK, small,
      vecCol = "embedding", idCol = "vec_id"))
    val bucketed = LshAnn.withTableBuckets(embeddings, "embedding", model)
      .select((Seq(col("vec_id"), col("embedding")) ++
        (0 until model.numTables).map(t => col(s"lsh_b$t"))): _*)
      .collect()
    val expected = bucketed
      .filter(r => (0 until model.numTables).exists(t =>
        smallSets(t).contains(r.getInt(2 + t))))
      .map { r =>
        val v = r.getSeq[Double](1)
        val sim = graft.harness.Recall.cosine(q.toArray, v.toArray)
        (r.getLong(0), BigDecimal(sim).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (id, sim) => (-sim, id) }
      .take(topK).toSeq
    assert(smallRes === expected)
    assert(smallRes.nonEmpty)

    // batch == single parity on the adaptive path
    val queries = (0 until 3).map(s => (s.toLong, VectorModel.syntheticQuery(s)))
    val batch = LshAnn.batchSearchStored(layout, model, queries, topK, small,
      vecCol = "embedding", idCol = "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = queries.flatMap { case (qid, qq) =>
      LshAnn.searchStored(layout, model, qq, topK, small,
        vecCol = "embedding", idCol = "vec_id")
        .select("vec_id", "sim")
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.toSet
    assert(batch === single)
  }

  test("oversized bucket width fails loudly (driver-side mask enumeration bound)") {
    intercept[IllegalArgumentException] {
      LshAnn.tables(2, LshAnn.MaxBits + 1, dim = 8, center = Array.empty)
    }
  }
}
