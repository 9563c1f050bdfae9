package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.LongUnionFind

/** The union-find kernel behind connected components' partition-local
  * passes: component minima over any `Long` ids, at any chain length. */
class LongUnionFindSpec extends AnyFunSuite {

  private def minima(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val uf = new LongUnionFind
    pairs.foreach { case (a, b) => uf.union(uf.node(a), uf.node(b)) }
    (0 until uf.size).map(i => uf.id(i) -> uf.minOf(i)).toMap
  }

  test("extreme ids are ordinary nodes") {
    val got = minima(Seq(
      (Long.MaxValue, 0L), (0L, Long.MinValue), // one component
      (-1L, Long.MaxValue - 1), // another
      (7L, 7L))) // a self-loop
    assert(got == Map(
      Long.MaxValue -> Long.MinValue, 0L -> Long.MinValue,
      Long.MinValue -> Long.MinValue,
      -1L -> -1L, (Long.MaxValue - 1) -> -1L,
      7L -> 7L))
  }

  test("a node is added once and keeps its index") {
    val uf = new LongUnionFind
    val ids = Seq(Long.MinValue, 0L, Long.MaxValue, -1L, 1L)
    val idx = ids.map(uf.node)
    assert(idx == (0 until ids.size))
    assert(ids.map(uf.node) == idx && uf.size == ids.size)
    assert(idx.map(uf.id) == ids)
  }

  test("a 100k-node chain resolves to its minimum in either order") {
    val n = 100000L
    val links = (0L until n - 1).map(i => (i * 7919L, (i + 1) * 7919L))
    for (order <- Seq(links, links.reverse)) {
      val got = minima(order)
      assert(got.size == n && got.valuesIterator.forall(_ == 0L))
    }
  }

  test("matches a naive union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20) {
      val pairs = Seq.fill(rnd.nextInt(300)) {
        (rnd.nextInt(200).toLong - 100, rnd.nextInt(200).toLong - 100)
      }
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      assert(minima(pairs) == parent.keys.map(v => v -> find(v)).toMap)
    }
  }
}
