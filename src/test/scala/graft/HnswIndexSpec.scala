package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.HnswIndex

/** Scale ceilings of the in-memory HNSW graph fail loudly and early. */
class HnswIndexSpec extends AnyFunSuite {

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
}
