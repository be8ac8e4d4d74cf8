package perfbench

import scala.collection.mutable

/** Seeded input generators and the benchmark's own oracles. Everything here
  * is plain Scala over arrays: the oracles share no code with the program
  * they check. */
object Gen {

  /** A Gaussian mixture: `clusters` centres drawn from N(0, 1)^dim, each
    * point a centre plus N(0, spread²)^dim noise. Clustered the way real
    * embeddings are, so index routing has structure to exploit. The centres
    * are one fixed draw, so every seed samples the same distribution; the
    * seed draws the points. */
  final class Mixture(seed: Long, dim: Int, clusters: Int = 32, spread: Double = 0.6) {
    private val centres = {
      val r = new java.util.Random(0L)
      Array.fill(clusters, dim)(r.nextGaussian())
    }
    private val rnd = new java.util.Random(seed)

    private def around(c: Array[Double]): Array[Double] =
      Array.tabulate(dim)(i => c(i) + spread * rnd.nextGaussian())

    def next(): Array[Double] = around(centres(rnd.nextInt(clusters)))

    def take(n: Int): Array[Array[Double]] = Array.fill(n)(next())

    /** `n` points taken from the centres in turn, so every centre gets its
      * share: a query set whose make-up does not vary by seed. */
    def stratified(n: Int): Array[Array[Double]] = Array.tabulate(n)(j => around(centres(j % clusters)))
  }

  /** Spark's `round(x, 6)` on a double: HALF_UP on the decimal rendering. */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Cosine similarity evaluated term for term as the program's expanded
    * expression does it (left-associated sums, zero norm gives 0). */
  def cosine(v: Array[Double], q: Array[Double], qNorm: Double): Double = {
    var dot = 0.0; var nn = 0.0; var i = 0
    while (i < q.length) { dot += v(i) * q(i); nn += v(i) * v(i); i += 1 }
    val n = math.sqrt(nn)
    if (n == 0.0) 0.0 else dot / (n * qNorm)
  }

  def norm(q: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < q.length) { s += q(i) * q(i); i += 1 }
    math.sqrt(s)
  }

  /** Exact top-k by the rule of the program's brute-force search: similarity
    * rounded to six places, descending, ties by ascending id. */
  def topK(rows: Iterable[(Long, Array[Double])], q: Array[Double], k: Int): Seq[(Long, Double)] = {
    val qn = norm(q)
    val heap = mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) })
    // keeps the k best: the head is the worst kept (lowest sim, highest id)
    rows.foreach { case (id, v) =>
      val s = round6(cosine(v, q, qn))
      if (heap.size < k) heap.enqueue((s, id))
      else {
        val (hs, hid) = heap.head
        if (s > hs || (s == hs && id < hid)) { heap.dequeue(); heap.enqueue((s, id)) }
      }
    }
    heap.toSeq.sortBy { case (s, id) => (-s, id) }.map { case (s, id) => (id, s) }
  }

  /** [[topK]] for each query, computed in parallel: the exact answers are
    * the benchmark's own work, done before any clock starts. */
  def exactTopK(rows: IndexedSeq[(Long, Array[Double])], qs: Array[Array[Double]],
      k: Int): Array[Seq[(Long, Double)]] = {
    val out = new Array[Seq[(Long, Double)]](qs.length)
    java.util.stream.IntStream.range(0, qs.length).parallel()
      .forEach(i => out(i) = topK(rows, qs(i), k))
    out
  }

  /** Recall@k of `got` against the exact ids. */
  def recall(exact: Seq[Long], got: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else exact.toSet.intersect(got.toSet).size.toDouble / exact.size

  // ---- text corpus ----

  /** One generated document and what was planted in it. */
  final case class Doc(id: Long, text: String, family: Int, pii: Seq[String])

  private val stop = Array("the", "a", "of", "and", "to", "in", "is")

  /** A corpus of `n` documents. A quarter belong to planted near-duplicate
    * families of 2 to 4 members, each member a copy of its family's base
    * text with a few tokens replaced; the rest are independent. About a
    * fifth of the documents carry a planted email or phone number. */
  def corpus(seed: Long, n: Int, vocab: Int = 20000): Array[Doc] = {
    val rnd = new java.util.Random(seed)
    def word(): String =
      if (rnd.nextInt(5) == 0) stop(rnd.nextInt(stop.length)) else s"w${rnd.nextInt(vocab)}"
    def body(): Array[String] = Array.fill(60 + rnd.nextInt(60))(word())
    def pii(id: Long): Seq[String] = rnd.nextInt(10) match {
      case 0 => Seq(s"user$id.x${rnd.nextInt(1000)}@mail${rnd.nextInt(50)}.example.com")
      case 1 => Seq(f"+${1 + rnd.nextInt(99)}%d-${100 + rnd.nextInt(900)}%d-" +
        f"${100 + rnd.nextInt(900)}%d-${1000 + rnd.nextInt(9000)}%d")
      case _ => Nil
    }
    def render(tokens: Array[String], planted: Seq[String]): String =
      if (planted.isEmpty) tokens.mkString(" ")
      else {
        val at = rnd.nextInt(tokens.length)
        (tokens.take(at) ++ planted ++ tokens.drop(at)).mkString(" ")
      }
    val docs = mutable.ArrayBuffer.empty[Doc]
    var family = 0
    while (docs.size < n) {
      val id0 = docs.size.toLong
      if (rnd.nextInt(8) < 2 && n - docs.size >= 4) {
        val base = body()
        (0 until 2 + rnd.nextInt(3)).foreach { j =>
          val copy = base.clone()
          if (j > 0) (0 until math.max(1, copy.length / 40)).foreach(_ =>
            copy(rnd.nextInt(copy.length)) = word())
          val id = id0 + j
          val planted = pii(id)
          docs += Doc(id, render(copy, planted), family, planted)
        }
        family += 1
      } else {
        val planted = pii(id0)
        docs += Doc(id0, render(body(), planted), -1, planted)
      }
    }
    docs.take(n).toArray
  }

  /** Every pair of documents planted in one family. */
  def plantedPairs(docs: Array[Doc]): Seq[(Long, Long)] =
    docs.filter(_.family >= 0).groupBy(_.family).values.toSeq.flatMap { fam =>
      val ids = fam.map(_.id).sorted
      for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
    }
}
