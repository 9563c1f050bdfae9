package graft.operators

/** Union-find over arbitrary `Long` node ids, in primitive arrays: the one
  * kernel behind [[Dedup.connectedComponents]]' partition-local passes
  * (its solve and its per-round pointer collapse).
  *
  * A node is a dense index into `ids`/`parent`; an open-addressed table
  * (linear probing, load at most 1/2) maps an id to its index. Every
  * `Long` is a legal id, so a table slot holds index + 1 and 0 marks it
  * empty. Each set's root is its smallest id ([[union]] links the larger
  * root under the smaller), so [[minOf]] is the component minimum. Memory
  * is bounded in bytes by the node count: 12 bytes a node in `ids` and
  * `parent` plus 8 to 16 in the table, each array at most twice what it
  * holds — where a boxed `HashMap[Long, Long]` pays about 80 bytes an
  * entry. `find` is iterative (path compression, no recursion), so a
  * chain of any length runs in constant stack. */
private[graft] final class LongUnionFind {
  private var ids = new Array[Long](16)
  private var parent = new Array[Int](16)
  private var table = new Array[Int](32)
  private var shift = 64 - 5 // 64 − log2(table.length)
  private var n = 0

  /** The number of nodes held. */
  def size: Int = n

  /** The id of node `i`. */
  def id(i: Int): Long = ids(i)

  /** The index of `id`, added as its own singleton set if absent. */
  def node(id: Long): Int = {
    val mask = table.length - 1
    var s = home(id)
    while (table(s) != 0 && ids(table(s) - 1) != id) s = (s + 1) & mask
    if (table(s) != 0) table(s) - 1
    else {
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, 2 * n)
        parent = java.util.Arrays.copyOf(parent, 2 * n)
      }
      ids(n) = id
      parent(n) = n
      table(s) = n + 1
      n += 1
      if (2 * n > table.length) rehash()
      n - 1
    }
  }

  /** Merge the sets of nodes `a` and `b`. */
  def union(a: Int, b: Int): Unit = {
    val ra = find(a)
    val rb = find(b)
    if (ra != rb) {
      if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
    }
  }

  /** The smallest id in node `i`'s set. */
  def minOf(i: Int): Long = ids(find(i))

  private def find(i: Int): Int = {
    var r = i
    while (parent(r) != r) r = parent(r)
    var c = i
    while (c != r) { val next = parent(c); parent(c) = r; c = next }
    r
  }

  /** Fibonacci hashing: the top log2(table.length) bits of id × 2^64/φ. */
  private def home(id: Long): Int =
    ((id * 0x9E3779B97F4A7C15L) >>> shift).toInt

  private def rehash(): Unit = {
    table = new Array[Int](2 * table.length)
    shift -= 1
    val mask = table.length - 1
    var i = 0
    while (i < n) {
      var s = home(ids(i))
      while (table(s) != 0) s = (s + 1) & mask
      table(s) = i + 1
      i += 1
    }
  }
}
