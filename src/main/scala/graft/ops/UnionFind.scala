package graft.ops

/** Exact connected components of an undirected edge list held in
  * primitive arrays: the one union-find of the engine, shared by
  * `Dedup.connectedComponents`' small-graph finish on the driver and
  * `Linkage.blockClusters`' per-block fold on the executors.
  *
  * Endpoints are sorted and deduplicated once, so a node is an `Int`
  * index into the sorted ids and the forest is one `Int` parent array:
  * no boxed map, no per-node object. Index order is id order, so union
  * by MIN root makes every component's root its minimum member — the
  * cluster-id convention of the min-label loop. Finds compress paths by
  * halving.
  *
  * Working set for n edges and m distinct ids: the 2n endpoint sort
  * buffer (16n bytes), the ids and the roots (8m each) and the parent
  * array (4m), m ≤ 2n.
  */
private[graft] object UnionFind {

  /** Components of the edges (u(i), v(i)) of every (u, v) chunk of
    * equal-length arrays: the sorted distinct endpoint ids and, index
    * for index, each id's component minimum. A self-pair (a, a) yields
    * a singleton {a}.
    */
  def components(chunks: Seq[(Array[Long], Array[Long])]): (Array[Long], Array[Long]) = {
    val ends = new Array[Long](2 * chunks.iterator.map(_._1.length).sum)
    var k = 0
    chunks.foreach { case (u, v) =>
      var i = 0
      while (i < u.length) { ends(k) = u(i); ends(k + 1) = v(i); k += 2; i += 1 }
    }
    java.util.Arrays.sort(ends)
    var m = 0
    k = 0
    while (k < ends.length) {
      if (m == 0 || ends(k) != ends(m - 1)) { ends(m) = ends(k); m += 1 }
      k += 1
    }
    val ids = java.util.Arrays.copyOf(ends, m)
    val parent = Array.range(0, m)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    chunks.foreach { case (u, v) =>
      var i = 0
      while (i < u.length) {
        val ra = find(java.util.Arrays.binarySearch(ids, u(i)))
        val rb = find(java.util.Arrays.binarySearch(ids, v(i)))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        i += 1
      }
    }
    val roots = new Array[Long](m)
    k = 0
    while (k < m) { roots(k) = ids(find(k)); k += 1 }
    (ids, roots)
  }
}
