package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.VectorModel
import graft.search.VectorSearch
import graft.store.VectorStore
import OracleSql.{lit => dlit, _}

/** Exact, deterministic vector-engine queries (reference S1/S4/S5/S6,
  * W1/W3/W4) with their DuckDB oracle SQL. Every query orders its output
  * totally so the oracle comparison is row-order stable. */
object VectorQueries {

  private def v(i: Int) = s"v$i"

  /** S1: exact brute-force top-10 by cosine vs the flagship query vector. */
  def bruteTopK(spark: SparkSession, dir: String): DataFrame =
    VectorSearch.bruteForceTopK(VectorModel.lineitemVectors(spark, dir), VectorModel.Query, 10)
      .select("id", "sim")

  val bruteTopKSql: String =
    s"""WITH $vectorCte
       |SELECT id, round(${cosineConst(v, VectorModel.Query)}, 6) AS sim
       |FROM v ORDER BY sim DESC, id ASC LIMIT 10""".stripMargin

  /** S5: metadata-filtered exact top-10 (filter-first — exact, strictly
    * better than the reference's overfetch, SURVEY.md §2 note). */
  def filteredTopK(spark: SparkSession, dir: String): DataFrame =
    VectorSearch.bruteForceTopK(
      VectorModel.lineitemVectors(spark, dir), VectorModel.Query, 10,
      filter = Some(col("category") === "R" && col("status") === "F"))
      .select("id", "sim")

  val filteredTopKSql: String =
    s"""WITH $vectorCte
       |SELECT id, round(${cosineConst(v, VectorModel.Query)}, 6) AS sim
       |FROM v WHERE category = 'R' AND status = 'F'
       |ORDER BY sim DESC, id ASC LIMIT 10""".stripMargin

  /** The vector-metric SQL surface: pure `spark.sql` text using all three
    * registered native functions (cosine_sim / dot_product / l2_distance,
    * [[graft.GraftExtensions]]) over the canonical vector view — the
    * query a SQL-only user of the engine writes, oracle-gated like every
    * other exact operator. */
  def sqlVectorFuncs(spark: SparkSession, dir: String): DataFrame = {
    VectorModel.lineitemVectors(spark, dir).createOrReplaceTempView("vec_sql")
    val q = VectorModel.Query.map(x => s"${x}D").mkString("array(", ", ", ")")
    spark.sql(
      s"""SELECT id, round(cosine_sim(vector, $q), 6) AS sim,
         |  round(dot_product(vector, $q), 6) AS dot,
         |  round(l2_distance(vector, $q), 6) AS l2
         |FROM vec_sql ORDER BY sim DESC, id ASC LIMIT 10""".stripMargin)
  }

  val sqlVectorFuncsSql: String = {
    val qv = VectorModel.Query
    val d = qv.length
    val dotS = dot(v, i => dlit(qv(i)), d)
    val l2 = s"sqrt(${(0 until d).map(i =>
      s"(${v(i)} - ${dlit(qv(i))})*(${v(i)} - ${dlit(qv(i))})").mkString(" + ")})"
    s"""WITH $vectorCte
       |SELECT id, round(${cosineConst(v, qv)}, 6) AS sim,
       |  round($dotS, 6) AS dot, round($l2, 6) AS l2
       |FROM v ORDER BY sim DESC, id ASC LIMIT 10""".stripMargin
  }

  /** S4: batch multi-query search — top-3 per part-derived query vector. */
  def batchTopK(spark: SparkSession, dir: String): DataFrame =
    VectorSearch.batchTopK(
      VectorModel.lineitemVectors(spark, dir),
      VectorModel.partQueries(spark, dir),
      VectorModel.Dim, 3)
      .orderBy("query_id", "rn")

  val batchTopKSql: String =
    s"""WITH $vectorCte, $partQueryCte
       |SELECT query_id, id, round(sim_raw, 6) AS sim, rn FROM (
       |  SELECT q.query_id, a.id,
       |    ${cosineCols(i => s"a.v$i", i => s"q.q$i", VectorModel.Dim)} AS sim_raw,
       |    row_number() OVER (PARTITION BY q.query_id ORDER BY ${cosineCols(i => s"a.v$i", i => s"q.q$i", VectorModel.Dim)} DESC, a.id ASC) AS rn
       |  FROM v a CROSS JOIN q)
       |WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin

  /** S6: point lookup of the minimum-id record, full record flat. (A
    * literal-id lookup is exercised in ScalaTest; the minimum id keeps this
    * deterministic at every scale factor, since the SFs share no rows.)
    *
    * Served from a range-sorted layout ([[pointLayout]], build-once/serve-
    * many): the lookup is an id-equality filter pushed into the Parquet
    * scan, so per-file/row-group min-max stats prune everything but the one
    * row group holding the id — the point-lookup plan that survives 100 TB,
    * instead of a full-table TakeOrdered. PlanSpec asserts the pushed
    * filter. */
  def getById(spark: SparkSession, dir: String): DataFrame = {
    val (path, minId) = pointLayout(spark, dir)
    spark.read.parquet(path)
      .where(col("id") === minId)
      .select(
        Seq(col("id")) ++
          (0 until VectorModel.Dim).map(i => element_at(col("vector"), i + 1).as(s"v$i")) ++
          Seq(col("category"), col("status")): _*)
  }

  /** Range-partitioned, id-sorted copy of the vector table (8 files, each
    * carrying tight id min-max stats) + the minimum id, memoized per
    * dataset dir; exposed as a Bench build step. */
  private[graft] def pointLayout(spark: SparkSession, dir: String): (String, Long) =
    pointLayoutCache.computeIfAbsent(dir, _ => {
      val p = graft.store.Fs.scratchDir(spark, "graft_point_layout") + "/v"
      VectorModel.lineitemVectors(spark, dir)
        .repartitionByRange(8, col("id"))
        .sortWithinPartitions("id")
        .write.mode("overwrite").parquet(p)
      val minId = spark.read.parquet(p).agg(min("id")).collect()(0).getLong(0)
      (p, minId)
    })

  private val pointLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  val getByIdSql: String =
    s"""WITH $vectorCte
       |SELECT id, ${(0 until VectorModel.Dim).map(i => s"v$i").mkString(", ")}, category, status
       |FROM v ORDER BY id ASC LIMIT 1""".stripMargin

  /** W1/W2: insert one literal row, then aggregate per category — proves
    * union/append semantics deterministically. */
  def insertAgg(spark: SparkSession, dir: String): DataFrame = {
    val data = VectorModel.lineitemVectors(spark, dir)
    val newRow = spark.range(1).select(
      lit(1L).as("id"),
      array((0 until VectorModel.Dim).map(i => lit(i + 1.0)): _*).as("vector"),
      lit("Z").as("category"),
      lit("Z").as("status"))
    VectorStore.insert(data, newRow, VectorModel.Dim)
      .groupBy("category")
      .agg(count(lit(1)).as("n"),
        sum(element_at(col("vector"), 1)).cast("long").as("sum_v0"))
      .orderBy("category")
  }

  val insertAggSql: String =
    s"""WITH $vectorCte,
       |u AS (SELECT id, v0, category FROM v
       |      UNION ALL SELECT 1, CAST('1.0' AS DOUBLE), 'Z')
       |SELECT category, count(*) AS n, CAST(sum(v0) AS BIGINT) AS sum_v0
       |FROM u GROUP BY category ORDER BY category""".stripMargin

  /** W4: delete rows with category 'N', then aggregate — proves the rewrite
    * removed exactly the matching rows. */
  def deleteAgg(spark: SparkSession, dir: String): DataFrame =
    VectorStore.delete(VectorModel.lineitemVectors(spark, dir), col("category") === "N")
      .groupBy("category")
      .agg(count(lit(1)).as("n"),
        sum(element_at(col("vector"), 1)).cast("long").as("sum_v0"))
      .orderBy("category")

  val deleteAggSql: String =
    s"""WITH $vectorCte
       |SELECT category, count(*) AS n, CAST(sum(v0) AS BIGINT) AS sum_v0
       |FROM v WHERE NOT (category = 'N') GROUP BY category ORDER BY category""".stripMargin

  /** Keyed bulk MERGE ([[VectorStore.merge]]): one delta batch carrying
    * updates (category := 'M' for id % 5 = 0 excluding deletes), deletes
    * (id % 7 = 0), and inserts (fresh ids −id−1 with category 'I' for
    * id % 11 = 0), applied in a single anti-join + union pass; the merged
    * table's per-category aggregate is mirrored from base + delta
    * predicates in SQL. The commit-marker landing of the same merge is
    * CrudSpec-gated ([[VectorStore.mergeVersioned]]: no torn version
    * visible across a crashed publish). */
  def mergeAgg(spark: SparkSession, dir: String): DataFrame = {
    val base = VectorModel.lineitemVectors(spark, dir)
    val updates = base
      .where(pmod(col("id"), lit(5L)) === 0 && pmod(col("id"), lit(7L)) =!= 0)
      .select(col("id"), col("vector"), lit("M").as("category"),
        col("status"), lit("U").as("op"))
    val deletes = base.where(pmod(col("id"), lit(7L)) === 0)
      .select(col("id"), col("vector"), col("category"), col("status"),
        lit("D").as("op"))
    val inserts = base.where(pmod(col("id"), lit(11L)) === 0)
      .select((-col("id") - 1).as("id"), col("vector"),
        lit("I").as("category"), col("status"), lit("U").as("op"))
    VectorStore.merge(base, updates.unionByName(deletes).unionByName(inserts))
      .groupBy("category")
      .agg(count(lit(1)).as("n"),
        sum(element_at(col("vector"), 1)).cast("long").as("sum_v0"))
      .orderBy("category")
  }

  val mergeAggSql: String =
    s"""WITH $vectorCte,
       |merged AS (
       |  SELECT v0, category FROM v
       |  WHERE NOT (id % 7 = 0 OR (id % 5 = 0 AND id % 7 <> 0))
       |  UNION ALL SELECT v0, 'M' FROM v WHERE id % 5 = 0 AND id % 7 <> 0
       |  UNION ALL SELECT v0, 'I' FROM v WHERE id % 11 = 0)
       |SELECT category, count(*) AS n, CAST(sum(v0) AS BIGINT) AS sum_v0
       |FROM merged GROUP BY category ORDER BY category""".stripMargin

  /** Memoized AS-OF root: a [[graft.store.VersionedLayout]] carrying three
    * committed merges of the (projected) vector table — v0 the bootstrap
    * base, v1 the [[mergeAgg]] delta, v2 a later delete wave — built once
    * per dataset dir (a Bench build step). Retention ([[graft.store.
    * VersionedLayout.Keep]] = 2) prunes v0 when v2 lands, so the root
    * holds exactly {v1 (grace), v2 (live)}: the pinned read below targets
    * a RETAINED historical version while a newer merge exists, which is
    * precisely the training-run-pins-a-snapshot shape. Rows carry the
    * aggregate-relevant projection (id, v0, category, status) — a
    * production root stores full payloads; version semantics are
    * identical. */
  private[graft] def asofRoot(spark: SparkSession, dir: String): String =
    asofRootCache.computeIfAbsent(dir, _ => {
      val root = graft.store.Fs.scratchDir(spark, "graft_asof_root") + "/t"
      // getItem(0), not element_at(…, 1): ANSI element_at's generated
      // code trips a janino "not an rvalue" error when composed over the
      // constructed vector array (Spark falls back to interpreted mode
      // for the whole stage — observed on every asof merge projection,
      // r16 and r17 HEADs alike); GetArrayItem codegens clean. Same
      // value: both read the first element.
      // cached: the projection feeds the bootstrap write plus the three
      // delta branches and the v2 wave — five scans of lineitem from one
      // (guide §1.2 "don't recompute"; values unchanged, merges identical)
      val base = graft.store.CacheRegistry.cached(
        VectorModel.lineitemVectors(spark, dir)
          .select(col("id"), col("vector").getItem(0).as("v0"),
            col("category"), col("status")))
      // v0: bootstrap (base as U-rows)
      VectorStore.mergeVersioned(spark, root, base.withColumn("op", lit("U")))
      // v1: the mergeAgg delta — updates (id%5 minus deletes), deletes
      // (id%7), inserts (fresh negative ids for id%11) — so v1's content
      // is exactly the vq_merge_agg result over the projection
      val updates = base
        .where(pmod(col("id"), lit(5L)) === 0 && pmod(col("id"), lit(7L)) =!= 0)
        .select(col("id"), col("v0"), lit("M").as("category"),
          col("status"), lit("U").as("op"))
      val deletes = base.where(pmod(col("id"), lit(7L)) === 0)
        .select(col("id"), col("v0"), col("category"), col("status"),
          lit("D").as("op"))
      val inserts = base.where(pmod(col("id"), lit(11L)) === 0)
        .select((-col("id") - 1).as("id"), col("v0"),
          lit("I").as("category"), col("status"), lit("U").as("op"))
      VectorStore.mergeVersioned(spark, root,
        updates.unionByName(deletes).unionByName(inserts))
      // v2: a later merge the pinned read must NOT observe
      VectorStore.mergeVersioned(spark, root,
        base.where(pmod(col("id"), lit(2L)) === 1)
          .select(col("id"), col("v0"), col("category"), col("status"),
            lit("D").as("op")))
      graft.store.CacheRegistry.release(base) // all three merges landed
      root
    })

  private val asofRootCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Time-travel read ([[VectorStore.readVersion]]): aggregate the PINNED
    * version-1 snapshot while the live version (v2, a delete wave) has
    * moved on — the oracle mirrors base + the FIRST delta only, so a
    * read that leaked any later merge (or resolved "live" instead of the
    * pinned version) hash-fails. Shares [[mergeAggSql]]'s mirror text
    * verbatim: v1's content IS the vq_merge_agg result. */
  def asofRead(spark: SparkSession, dir: String): DataFrame =
    VectorStore.readVersion(spark, asofRoot(spark, dir), 1)
      .groupBy("category")
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"),
        sum(col("v0")).cast("long").as("sum_v0"))
      .orderBy("category")

  /** The pinned snapshot's mirror == the merge mirror (one definition —
    * see [[asofRead]]). */
  val asofReadSql: String = mergeAggSql

  /** W3: update metadata (category := 'X' where status = 'O'), aggregate. */
  def updateAgg(spark: SparkSession, dir: String): DataFrame =
    VectorStore.update(
      VectorModel.lineitemVectors(spark, dir),
      col("status") === "O",
      Map("category" -> lit("X")))
      .groupBy("category")
      .agg(count(lit(1)).as("n"),
        sum(element_at(col("vector"), 1)).cast("long").as("sum_v0"))
      .orderBy("category")

  val updateAggSql: String =
    s"""WITH $vectorCte
       |SELECT CASE WHEN status = 'O' THEN 'X' ELSE category END AS category,
       |  count(*) AS n, CAST(sum(v0) AS BIGINT) AS sum_v0
       |FROM v GROUP BY 1 ORDER BY category""".stripMargin

  /** Range (radius) search: every vector within cosine ≥ 0.9995 of the
    * flagship query — the match-all-above-a-bar variant of S1 (threshold
    * picked to select ~0.1% of rows at every SF, non-empty at sf0.001). */
  def rangeTopK(spark: SparkSession, dir: String): DataFrame =
    VectorSearch.rangeSearch(
      VectorModel.lineitemVectors(spark, dir), VectorModel.Query, 0.9995)
      .select("id", "sim")

  val rangeTopKSql: String =
    s"""WITH $vectorCte
       |SELECT id, round(${cosineConst(v, VectorModel.Query)}, 6) AS sim
       |FROM v WHERE round(${cosineConst(v, VectorModel.Query)}, 6) >= CAST('0.9995' AS DOUBLE)
       |ORDER BY sim DESC, id ASC""".stripMargin

  /** Grouped top-k (the group-by search modern vector stores expose): the
    * 3 best matches per category in ONE pass — ranking via the k-bounded
    * [[graft.operators.TopK.TopKAggregator]], so partial aggregation
    * truncates map-side and the shuffle carries ≤ k rows per (category,
    * task) no matter the group sizes. */
  def groupedTopK(spark: SparkSession, dir: String): DataFrame = {
    val data = VectorModel.lineitemVectors(spark, dir)
      .withColumn("sim_raw",
        graft.functions.VectorFunctions.cosineQuery(col("vector"), VectorModel.Query))
    graft.operators.TopK.perGroupTopK(data, "category", col("id"), col("sim_raw"), 3)
      .orderBy("category", "rn")
  }

  val groupedTopKSql: String =
    s"""WITH $vectorCte
       |SELECT category, id, round(sim_raw, 6) AS sim, rn FROM (
       |  SELECT category, id, ${cosineConst(v, VectorModel.Query)} AS sim_raw,
       |    row_number() OVER (PARTITION BY category ORDER BY ${cosineConst(v, VectorModel.Query)} DESC, id ASC) AS rn
       |  FROM v)
       |WHERE rn <= 3 ORDER BY category, rn""".stripMargin

  /** MMR diversified top-5 over a 50-candidate exact pool (λ = 0.5). The
    * oracle is the greedy unrolled as one chained CTE per selection step —
    * every arithmetic term mirrors [[graft.search.VectorSearch.mmrTopK]]'s
    * driver-side greedy, so even this iterative operator is hash-gated. */
  def mmrTopK(spark: SparkSession, dir: String): DataFrame =
    VectorSearch.mmrTopK(
      VectorModel.lineitemVectors(spark, dir), VectorModel.Query, k = 5, poolSize = 50)

  val mmrTopKSql: String = {
    val d = VectorModel.Dim
    val lam = "CAST('0.5' AS DOUBLE)"
    val cols = (0 until d).map(i => s"v$i").mkString(", ")
    def stepCte(n: Int): String = {
      val prior = (1 to n - 1).map(j => s"s$j")
      val notSel = prior.map(j => s"p.id <> $j.id").mkString(" AND ")
      val pcols = Seq("p.id", "p.sim") ++ (0 until d).map(i => s"p.v$i")
      val pairs = prior.map(j => cosineCols(i => s"p.v$i", i => s"$j.v$i", d))
      val maxPair = if (pairs.size == 1) pairs.head else s"greatest(${pairs.mkString(", ")})"
      s"""s$n AS (SELECT ${pcols.mkString(", ")}
         |  FROM pool p, ${prior.mkString(", ")} WHERE $notSel
         |  ORDER BY $lam*p.sim - $lam*($maxPair) DESC, p.id ASC LIMIT 1)""".stripMargin
    }
    val steps = (2 to 5).map(stepCte).mkString(",\n")
    val ranked = (1 to 5)
      .map(n => s"SELECT CAST($n AS BIGINT) AS mmr_rank, id, sim FROM s$n")
      .mkString("\n  UNION ALL ")
    s"""WITH $vectorCte,
       |pool AS (SELECT id, round(${cosineConst(v, VectorModel.Query)}, 6) AS sim, $cols
       |         FROM v ORDER BY sim DESC, id ASC LIMIT 50),
       |s1 AS (SELECT id, sim, $cols FROM pool ORDER BY sim DESC, id ASC LIMIT 1),
       |$steps
       |SELECT * FROM (
       |  $ranked)
       |ORDER BY mmr_rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vq_brute_topk" -> (bruteTopK _),
    "vq_range_topk" -> (rangeTopK _),
    "vq_grouped_topk" -> (groupedTopK _),
    "vq_mmr_topk" -> (mmrTopK _),
    "vq_filtered_topk" -> (filteredTopK _),
    "vq_batch_topk" -> (batchTopK _),
    "vq_sql_vector_funcs" -> (sqlVectorFuncs _),
    "vq_get_by_id" -> (getById _),
    "vq_insert_agg" -> (insertAgg _),
    "vq_delete_agg" -> (deleteAgg _),
    "vq_update_agg" -> (updateAgg _),
    "vq_merge_agg" -> (mergeAgg _),
    "vq_asof_read" -> (asofRead _))

  val oracleSql: Map[String, String] = Map(
    "vq_brute_topk" -> bruteTopKSql,
    "vq_range_topk" -> rangeTopKSql,
    "vq_grouped_topk" -> groupedTopKSql,
    "vq_mmr_topk" -> mmrTopKSql,
    "vq_filtered_topk" -> filteredTopKSql,
    "vq_batch_topk" -> batchTopKSql,
    "vq_sql_vector_funcs" -> sqlVectorFuncsSql,
    "vq_get_by_id" -> getByIdSql,
    "vq_insert_agg" -> insertAggSql,
    "vq_delete_agg" -> deleteAggSql,
    "vq_update_agg" -> updateAggSql,
    "vq_merge_agg" -> mergeAggSql,
    "vq_asof_read" -> asofReadSql)
}
