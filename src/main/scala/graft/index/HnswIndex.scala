package graft.index

import scala.collection.mutable

/** In-memory HNSW graph — the per-partition local index behind
  * [[Hnsw.hnswTopK]]. Plain JVM code (deliberately not Catalyst): graph
  * construction is inherently sequential per partition (SURVEY.md §7
  * "hard parts").
  *
  * Semantics transliterated from the reference HNSWIndex
  * (vervectordb/__init__.py:17-149):
  *  - geometric level assignment with mL = 1/ln2, capped at [[LevelCap]]
  *    (`:28-29`, `:99`)
  *  - cosine similarity with zero-norm guard (`:31-36`)
  *  - greedy best-first beam `searchLayer` bounded by ef (`:38-76`)
  *  - neighbor selection = simple top-M by similarity, no diversity
  *    heuristic (`:78-89`)
  *  - bidirectional linking on insert; unlike the reference — which appends
  *    reverse edges without pruning so degree grows unboundedly (`:131-132`),
  *    an O(n·M) time/memory leak — reverse edges here are pruned to the
  *    standard degree caps (2M at level 0, M above)
  *  - search implements the intended upper-level greedy descent (the
  *    reference's descent loop is dead code, `:141-144`; doing it properly
  *    only improves recall — SURVEY.md I6)
  *
  * Implementation is allocation-free in the hot path: nodes are dense int
  * indices, adjacency is growable primitive int arrays, and the beam-search
  * frontier/result sets are binary heaps over parallel (double, int) arrays
  * — no boxing, no tuples. Deterministic given insert order and seed.
  */
final class HnswIndex(m: Int = 16, efConstruction: Int = 64, seed: Long = 42L) {

  val LevelCap = 5
  private val mL = 1.0 / math.log(2.0)
  private val rng = new java.util.Random(seed)

  /** Growable primitive int list (adjacency rows). */
  private final class IntVec(initCap: Int) {
    var arr = new Array[Int](initCap)
    var len = 0
    def add(x: Int): Unit = {
      if (len == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
      arr(len) = x; len += 1
    }
    def setAll(src: Array[Int], n: Int): Unit = {
      if (arr.length < n) arr = new Array[Int](n)
      System.arraycopy(src, 0, arr, 0, n); len = n
    }
  }

  /** Binary heap over parallel (sim, node) arrays. `max=true` pops the
    * highest sim first. */
  /** (sim, tie)-TOTAL-ORDERED binary heap (round 15; previously sim-only,
    * which left pop order among EQUAL similarities heap-internal — the
    * documented blocker that kept every HNSW serve's tie behavior
    * insertion-order dependent and SQL-inexpressible). `tie` is the
    * node's EXTERNAL id, so the order is a property of the data, not of
    * node numbering: the candidate max-heap pops (sim DESC, id ASC) —
    * equal-sim candidates explore lowest-id first — and the result
    * min-heap pops (sim ASC, id DESC) — the boundary eviction drops the
    * HIGHEST id among equal sims, matching the brute-force oracle's
    * (sim DESC, id ASC) keep order. Storage is sign-normalized so the
    * root is always the lexicographic minimum of (sign·sim, −sign·tie). */
  private final class Heap(max: Boolean, initCap: Int) {
    private val sign = if (max) -1.0 else 1.0
    var sims = new Array[Double](initCap)
    var ties = new Array[Long](initCap)
    var ns = new Array[Int](initCap)
    var size = 0
    def clear(): Unit = size = 0
    def headSim: Double = sign * sims(0)
    def headTie: Long = if (max) ties(0) else -ties(0)
    def headNode: Int = ns(0)
    // stored-key lexicographic less-than
    private def lt(s1: Double, t1: Long, s2: Double, t2: Long): Boolean =
      s1 < s2 || (s1 == s2 && t1 < t2)
    def push(sim: Double, tie: Long, n: Int): Unit = {
      if (size == sims.length) {
        sims = java.util.Arrays.copyOf(sims, size * 2)
        ties = java.util.Arrays.copyOf(ties, size * 2)
        ns = java.util.Arrays.copyOf(ns, size * 2)
      }
      var i = size; size += 1
      val s = sign * sim
      val t = if (max) tie else -tie
      while (i > 0 && lt(s, t, sims((i - 1) / 2), ties((i - 1) / 2))) {
        sims(i) = sims((i - 1) / 2); ties(i) = ties((i - 1) / 2)
        ns(i) = ns((i - 1) / 2); i = (i - 1) / 2
      }
      sims(i) = s; ties(i) = t; ns(i) = n
    }
    def pop(): Unit = {
      size -= 1
      val s = sims(size); val t = ties(size); val n = ns(size)
      var i = 0
      var c = 1
      while (c < size) {
        if (c + 1 < size && lt(sims(c + 1), ties(c + 1), sims(c), ties(c))) c += 1
        if (!lt(sims(c), ties(c), s, t)) c = size
        else { sims(i) = sims(c); ties(i) = ties(c); ns(i) = ns(c); i = c; c = 2 * i + 1 }
      }
      sims(i) = s; ties(i) = t; ns(i) = n
    }
  }

  // node storage: dense int indices. Vectors live in ONE flat array at
  // stride `dim` (fixed by the first insert): the hot loop (simTo inside
  // the beam) previously chased an Array[Array[Double]] pointer per
  // similarity — a dependent load plus a per-node object header's cache
  // footprint. Measured: neutral single-threaded at the m=16/8-d
  // operating point, ~8% at m=32/efC=200 (DevHnswProfile), ~7% on the
  // 32-way parallel fresh build where cache pressure is 32 graphs deep
  // (DevTimeOne vq_hnsw_topk warm). The flat layout reads the same
  // doubles in the same order, so every similarity — and therefore every
  // graph and every hash-gated serve — is bit-identical; only the
  // addressing changed.
  private var cap = 1024
  private var dim = -1
  private var flat: Array[Double] = null
  private var norms = new Array[Double](cap)
  private var extIds = new Array[Long](cap)
  private var nodeLevels = new Array[Int](cap)
  /** adj(node)(level) — present for level <= nodeLevels(node). */
  private var adj = new Array[Array[IntVec]](cap)
  private var n = 0
  private var idToIdx = mutable.LongMap.empty[Int]
  private var entry = -1
  private var maxLevel = 0

  /** One beam search's working state: the visited stamps, both heaps and
    * the drain buffers. Inserts reuse [[buildScratch]] (a build is
    * single-threaded); every search allocates its own, so one index can
    * serve concurrent searches — a resident graph is shared by every task
    * and client thread that probes its shard. */
  private final class Scratch(nodes: Int, drain: Int) {
    var visitedStamp = new Array[Int](nodes)
    var stamp = 0
    val candHeap = new Heap(max = true, 256)
    val resultHeap = new Heap(max = false, 256)
    val sims = new Array[Double](drain)
    val idx = new Array[Int](drain)
  }
  private val buildScratch = new Scratch(cap, 4096)
  // prune scratch, reused across pruneEdges calls (insert adds a reverse
  // edge to up to m neighbors per level and prunes each over-cap list —
  // allocating a heap + kept buffer per prune was the one allocation
  // left in the insert hot path)
  private val pruneHeap = new Heap(max = false, 2 * m + 1)
  private val pruneKept = new Array[Int](2 * m + 1)

  def size: Int = n

  /** The flat store is one JVM array, so `cap * dim` must fit an Int:
    * fail loudly before the product wraps (a negative size, or a silently
    * short array) rather than part-way through an insert. */
  private def requireFlatFits(cap: Long, dim: Int): Unit =
    require(cap * dim <= Int.MaxValue,
      s"HNSW flat vector store limit: capacity $cap x dim $dim = " +
        s"${cap * dim} doubles exceeds Int.MaxValue (${Int.MaxValue})")

  private def grow(): Unit = {
    if (flat != null) requireFlatFits(cap * 2L, dim)
    cap *= 2
    if (flat != null) flat = java.util.Arrays.copyOf(flat, cap * dim)
    norms = java.util.Arrays.copyOf(norms, cap)
    extIds = java.util.Arrays.copyOf(extIds, cap)
    nodeLevels = java.util.Arrays.copyOf(nodeLevels, cap)
    adj = java.util.Arrays.copyOf(adj, cap)
    buildScratch.visitedStamp = java.util.Arrays.copyOf(buildScratch.visitedStamp, cap)
  }

  /** Size every per-node store for exactly `nodes` nodes before the first
    * one lands — [[HnswIndex.restore]] knows its row count, and a restored
    * graph that stays resident would otherwise keep up to half its flat
    * store as doubling slack for as long as it is cached. */
  private def reserve(nodes: Int): Unit = {
    require(n == 0, "reserve before the first node")
    cap = math.max(1, nodes)
    norms = new Array[Double](cap)
    extIds = new Array[Long](cap)
    nodeLevels = new Array[Int](cap)
    adj = new Array[Array[IntVec]](cap)
    idToIdx = new mutable.LongMap[Int](cap)
    buildScratch.visitedStamp = new Array[Int](cap)
  }

  /** Length of the flat vector store (0 before the first vector). */
  private[graft] def flatLength: Int = if (flat == null) 0 else flat.length

  private def randomLevel(): Int =
    math.min(LevelCap, (-math.log(rng.nextDouble() max Double.MinPositiveValue) * mL).toInt)

  private def simTo(node: Int, q: Array[Double], qNorm: Double): Double = {
    val nn = norms(node)
    if (nn == 0.0 || qNorm == 0.0) return 0.0
    val f = flat
    val off = node * dim
    var dot = 0.0; var i = 0
    while (i < dim) { dot += f(off + i) * q(i); i += 1 }
    dot / (nn * qNorm)
  }

  /** [[simTo]] with the query being another STORED node — the prune-path
    * shape. Reads both sides from the flat store; term order matches
    * `simTo(a, vecs(b), norms(b))` exactly (a's element × b's element),
    * so the result is bit-identical to the per-node-array version. */
  private def simBetween(a: Int, b: Int): Double = {
    val na = norms(a); val nb = norms(b)
    if (na == 0.0 || nb == 0.0) return 0.0
    val f = flat
    val oa = a * dim; val ob = b * dim
    var dot = 0.0; var i = 0
    while (i < dim) { dot += f(oa + i) * f(ob + i); i += 1 }
    dot / (na * nb)
  }

  /** Register node `node`'s vector in the flat store (first vector fixes
    * the index's dimensionality — one index holds one vector family). */
  private def storeVec(node: Int, vector: Array[Double]): Unit = {
    if (dim < 0) {
      requireFlatFits(cap, vector.length)
      dim = vector.length; flat = new Array[Double](cap * dim)
    }
    require(vector.length == dim,
      s"vector dim ${vector.length} != index dim $dim (node $node)")
    System.arraycopy(vector, 0, flat, node * dim, dim)
  }

  private def vecNorm(q: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < q.length) { s += q(i) * q(i); i += 1 }
    math.sqrt(s)
  }

  /** Beam search at one level. On return, `sc.resultHeap` holds ≤ ef
    * entries (min-first). Overwrites both of `sc`'s heaps.
    *
    * `accept` (null = accept all): FILTERED traversal, the hnswlib-style
    * alternative to overfetch-and-post-filter. Non-matching nodes are
    * still TRAVERSED (their edges navigate the beam — skipping them
    * entirely would disconnect the graph under selective filters) but
    * only accepted nodes enter the result set, so `ef` counts accepted
    * results and the beam keeps expanding until it has ef MATCHING
    * candidates — the property that lets a 1%-selective filter still
    * return a full k where a 3k overfetch starves. The cost is more
    * traversal under selective filters (worst case the connected
    * component), bounded by the per-shard graph size. */
  private def searchLayer(sc: Scratch, q: Array[Double], qNorm: Double, entryNode: Int,
      ef: Int, level: Int, accept: Int => Boolean = null): Unit = {
    sc.stamp += 1
    val stamp = sc.stamp
    val visitedStamp = sc.visitedStamp
    val candHeap = sc.candHeap
    val resultHeap = sc.resultHeap
    candHeap.clear(); resultHeap.clear()
    val eSim = simTo(entryNode, q, qNorm)
    visitedStamp(entryNode) = stamp
    candHeap.push(eSim, extIds(entryNode), entryNode)
    if (accept == null || accept(entryNode))
      resultHeap.push(eSim, extIds(entryNode), entryNode)
    while (candHeap.size > 0) {
      val cSim = candHeap.headSim
      val cNode = candHeap.headNode
      candHeap.pop()
      if (resultHeap.size >= ef && cSim < resultHeap.headSim) {
        candHeap.clear() // no remaining candidate can improve the results
        // (sim-strict on purpose: an equal-sim candidate beyond the
        // boundary cannot ENTER the results but its edges still navigate)
      } else if (level <= nodeLevels(cNode)) {
        val edges = adj(cNode)(level)
        var i = 0
        while (i < edges.len) {
          val nb = edges.arr(i)
          if (visitedStamp(nb) != stamp) {
            visitedStamp(nb) = stamp
            val s = simTo(nb, q, qNorm)
            // total-ordered boundary: an equal-sim node with a SMALLER id
            // than the current worst result still enters (and evicts the
            // larger id), so the kept set is exactly the lexicographic
            // (sim DESC, id ASC) top-ef of the accepted visited nodes
            if (resultHeap.size < ef || s > resultHeap.headSim ||
                (s == resultHeap.headSim && extIds(nb) < resultHeap.headTie)) {
              candHeap.push(s, extIds(nb), nb)
              if (accept == null || accept(nb)) {
                resultHeap.push(s, extIds(nb), nb)
                if (resultHeap.size > ef) resultHeap.pop()
              }
            }
          }
          i += 1
        }
      }
    }
  }

  /** Drain `sc.resultHeap` into `sc`'s drain arrays sorted by
    * (sim DESC, idx ASC); returns count. */
  private def drainSorted(sc: Scratch): Int = {
    val resultHeap = sc.resultHeap
    val cnt = resultHeap.size
    var i = cnt - 1
    while (i >= 0) {
      sc.sims(i) = resultHeap.headSim
      sc.idx(i) = resultHeap.headNode
      resultHeap.pop()
      i -= 1
    }
    // the total-ordered min-heap pops (sim ASC, extId DESC), so the
    // reversed fill above is already exactly (sim DESC, extId ASC)
    cnt
  }

  /** Prune a node's adjacency at `level` to its `max` most similar edges. */
  private def pruneEdges(node: Int, level: Int, max: Int): Unit = {
    val edges = adj(node)(level)
    if (edges.len <= max) return
    // selection via bounded min-heap of size max, (sim, extId)-total-
    // ordered like the beam: equal-sim edges keep the LOWER ids
    val h = pruneHeap
    h.clear()
    var i = 0
    while (i < edges.len) {
      val e = edges.arr(i)
      val s = simBetween(e, node)
      if (h.size < max) h.push(s, extIds(e), e)
      else if (s > h.headSim || (s == h.headSim && extIds(e) < h.headTie)) {
        h.push(s, extIds(e), e); h.pop()
      }
      i += 1
    }
    val kept = pruneKept
    val keptLen = h.size
    var j = keptLen - 1
    while (j >= 0) { kept(j) = h.headNode; h.pop(); j -= 1 }
    edges.setAll(kept, keptLen)
  }

  /** Insert; duplicate id is a no-op (reference `:92-93`). */
  def insert(id: Long, vector: Array[Double]): Unit = {
    if (idToIdx.contains(id)) return
    if (n == cap) grow()
    val node = n
    storeVec(node, vector)
    val level = randomLevel()
    n += 1
    idToIdx(id) = node
    norms(node) = vecNorm(vector)
    extIds(node) = id
    nodeLevels(node) = level
    adj(node) = Array.fill(level + 1)(new IntVec(m + 1))
    if (entry < 0) {
      entry = node
      maxLevel = level
      return
    }
    val qNorm = norms(node)
    val sc = buildScratch
    var ep = entry
    var l = maxLevel
    while (l > level) {
      searchLayer(sc, vector, qNorm, ep, 1, l)
      if (sc.resultHeap.size > 0) ep = sc.resultHeap.headNode
      l -= 1
    }
    var lc = math.min(level, maxLevel)
    while (lc >= 0) {
      searchLayer(sc, vector, qNorm, ep, efConstruction, lc)
      val cnt = drainSorted(sc)
      val take = math.min(m, cnt)
      val degreeCap = if (lc == 0) 2 * m else m
      var i = 0
      while (i < take) {
        val nb = sc.idx(i)
        adj(node)(lc).add(nb)
        adj(nb)(lc).add(node)
        if (adj(nb)(lc).len > degreeCap) pruneEdges(nb, lc, degreeCap)
        i += 1
      }
      if (cnt > 0) ep = sc.idx(0)
      lc -= 1
    }
    if (level > maxLevel) {
      maxLevel = level
      entry = node
    }
  }

  /** Structural dump for persistence: one row per node, in insertion
    * order — (external id, vector, node level, adjacency as external ids
    * per level 0..nodeLevel, isEntry). Restoring via [[HnswIndex.restore]]
    * reproduces the graph exactly (no re-construction), so post-restore
    * searches are identical to pre-dump searches. */
  def dump(): Iterator[(Long, Array[Double], Int, Array[Array[Long]], Boolean)] =
    (0 until n).iterator.map { node =>
      val levels = adj(node)
      val adjExt = Array.tabulate(nodeLevels(node) + 1) { l =>
        val e = levels(l)
        Array.tabulate(e.len)(i => extIds(e.arr(i)))
      }
      (extIds(node),
        java.util.Arrays.copyOfRange(flat, node * dim, node * dim + dim),
        nodeLevels(node), adjExt, node == entry)
    }

  /** Wire a restored node (phase 2 of [[HnswIndex.restore]]); each
    * level's edge list is sized to the `adjExt` row it will hold. */
  private[index] def restoreNode(id: Long, vector: Array[Double], level: Int,
      adjExt: Array[Array[Long]], isEntry: Boolean): Int = {
    if (n == cap) grow()
    val node = n
    storeVec(node, vector)
    n += 1
    idToIdx(id) = node
    norms(node) = vecNorm(vector)
    extIds(node) = id
    nodeLevels(node) = level
    adj(node) = Array.tabulate(level + 1)(l =>
      new IntVec(math.max(1, if (l < adjExt.length) adjExt(l).length else 0)))
    if (isEntry) { entry = node; maxLevel = math.max(maxLevel, level) }
    if (level > maxLevel) maxLevel = level
    node
  }

  private[index] def restoreEdges(node: Int, adjExt: Array[Array[Long]]): Unit = {
    var l = 0
    while (l < adjExt.length) {
      val row = adjExt(l)
      var i = 0
      while (i < row.length) { adj(node)(l).add(idToIdx(row(i))); i += 1 }
      l += 1
    }
  }

  /** Top-k search: greedy descent from the entry point, then a level-0 beam
    * with ef = max(efSearch, 2k) (reference `:146`). */
  def search(q: Array[Double], k: Int, efSearch: Int = 128): Seq[(Long, Double)] =
    searchFiltered(q, k, efSearch, null)

  /** Top-k search with a predicate threaded INTO the level-0 beam (the
    * upper-level descent stays unfiltered — it is pure navigation). The
    * reference post-filters a 3k overfetch instead
    * (vervectordb/__init__.py:386), which under a selective filter returns
    * fewer than k rows; this DEVIATION (documented like filter-first on
    * fresh builds) keeps expanding the beam until it holds ef MATCHING
    * results, so k qualifying rows come back whenever the graph's
    * connected component holds them. `acceptId` must be pure and cheap
    * (a set lookup); null = unfiltered. Safe to call from several threads
    * at once: each call has its own [[Scratch]]. */
  def searchFiltered(q: Array[Double], k: Int, efSearch: Int,
      acceptId: Long => Boolean): Seq[(Long, Double)] = {
    if (entry < 0) return Seq.empty
    val accept: Int => Boolean =
      if (acceptId == null) null else node => acceptId(extIds(node))
    val qNorm = vecNorm(q)
    val ef = math.max(efSearch, 2 * k)
    val sc = new Scratch(n, ef + 1)
    var ep = entry
    var l = maxLevel
    while (l > 0) {
      searchLayer(sc, q, qNorm, ep, 1, l)
      if (sc.resultHeap.size > 0) ep = sc.resultHeap.headNode
      l -= 1
    }
    searchLayer(sc, q, qNorm, ep, ef, 0, accept)
    val cnt = drainSorted(sc)
    (0 until math.min(k, cnt)).map(i => (extIds(sc.idx(i)), sc.sims(i)))
  }
}

object HnswIndex {

  /** Rebuild an index from [[HnswIndex.dump]] rows (must be in the dumped
    * order): allocate all nodes first, then wire adjacency — no beam
    * search, O(nodes + edges). Every store is sized to `rows.size` up
    * front, so the restored graph holds no growth slack. */
  def restore(rows: Seq[(Long, Array[Double], Int, Array[Array[Long]], Boolean)],
      m: Int = 16, efConstruction: Int = 64, seed: Long = 42L): HnswIndex = {
    val idx = new HnswIndex(m, efConstruction, seed)
    idx.reserve(rows.size)
    val nodes = rows.map { case (id, vec, level, adjExt, isEntry) =>
      idx.restoreNode(id, vec, level, adjExt, isEntry)
    }
    rows.iterator.zip(nodes.iterator).foreach { case ((_, _, _, adjExt, _), node) =>
      idx.restoreEdges(node, adjExt)
    }
    idx
  }
}
