package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.HnswIndex

/** Scale ceilings of the in-memory HNSW graph fail loudly and early; a
  * restored graph holds no growth slack; one graph serves concurrent
  * searches. */
class HnswIndexSpec extends AnyFunSuite {

  private val Dim = 16

  /** A 2500-node graph: past the 2048 doubling step, so an unsized
    * restore would allocate a 4096-node flat store. */
  private lazy val built: HnswIndex = {
    val rng = new java.util.Random(3)
    val idx = new HnswIndex()
    (0 until 2500).foreach(i => idx.insert(i.toLong, Array.fill(Dim)(rng.nextGaussian())))
    idx
  }

  private def queries(n: Int): Seq[Array[Double]] = {
    val rng = new java.util.Random(9)
    Seq.fill(n)(Array.fill(Dim)(rng.nextGaussian()))
  }

  test("a vector too wide for the flat store is rejected, naming the limit") {
    val idx = new HnswIndex()
    // the initial capacity of 1024 nodes × 2^21 dims is 2^31 doubles: one
    // past the largest JVM array index
    val e = intercept[IllegalArgumentException] {
      idx.insert(0L, new Array[Double](1 << 21))
    }
    assert(e.getMessage.contains("Int.MaxValue"), e.getMessage)
    assert(idx.size === 0)
  }

  test("restore sizes the flat store to exactly n x dim and answers unchanged") {
    val restored = HnswIndex.restore(built.dump().toSeq)
    assert(restored.size === 2500)
    assert(restored.flatLength === 2500 * Dim)
    assert(built.flatLength === 4096 * Dim, "the built graph grew by doubling")
    queries(20).foreach(q =>
      assert(restored.search(q, 10) === built.search(q, 10)))
  }

  test("concurrent searches on one graph equal the sequential answers") {
    val restored = HnswIndex.restore(built.dump().toSeq)
    val qs = queries(25)
    val expected = qs.map(q => restored.search(q, 10, 64))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map(t => pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = (0 until 200).forall { i =>
          val j = (t + i) % qs.size
          restored.search(qs(j), 10, 64) == expected(j)
        }
      }))
      assert(futures.forall(_.get()), "a concurrent search differed from its sequential answer")
    } finally pool.shutdown()
  }
}
