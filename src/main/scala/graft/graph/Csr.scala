package graft.graph

/** Compressed-sparse-row adjacency of a [[Graph]]'s undirected edge
  * set — the one broadcast form every below-gate kernel reads
  * ([[Graph.csr]]: square count, multi-source BFS, Brandes).
  *
  * `ids` holds the ids of the vertices that carry at least one edge,
  * ascending; vertex index `i`'s neighbors are
  * `nbrs(offsets(i) until offsets(i + 1))`, as indices into `ids`,
  * ascending. Every input edge appears once per direction, so duplicate
  * and reversed edges stay parallel arcs and a self-loop (v, v) is two
  * arcs from v to itself — the multigraph GraphX builds from the same
  * edge list. Footprint: |V| longs plus 2|E| + |V| + 1 ints.
  */
final class Csr(val ids: Array[Long], val offsets: Array[Int],
                val nbrs: Array[Int]) extends Serializable {

  def size: Int = ids.length

  def arcs: Int = nbrs.length

  /** Index of vertex `id`, or −1 when it has no edge. */
  def indexOf(id: Long): Int = {
    val i = java.util.Arrays.binarySearch(ids, id)
    if (i >= 0) i else -1
  }

  /** First arc position of `v` in `u`'s neighbor run, or −1. */
  def firstArc(u: Int, v: Int): Int = {
    var a = java.util.Arrays.binarySearch(nbrs, offsets(u), offsets(u + 1), v)
    if (a < 0) -1
    else {
      while (a > offsets(u) && nbrs(a - 1) == v) a -= 1
      a
    }
  }

  /** Owner of arc position `a`: the u with offsets(u) ≤ a < offsets(u+1). */
  def arcSource(a: Int): Int = {
    val i = java.util.Arrays.binarySearch(offsets, a)
    // a run of equal offsets belongs to degree-0 rows — never the case
    // here (every id has an edge), so an exact hit IS the owner's start
    if (i >= 0) i else -i - 2
  }
}

object Csr {

  /** From `collectNeighborIds` rows (id, sorted neighbor ids). */
  def apply(rows: Array[(Long, Array[Long])]): Csr = {
    val sorted = rows.sortBy(_._1)
    val ids = sorted.map(_._1)
    val offsets = new Array[Int](ids.length + 1)
    var i = 0
    while (i < ids.length) {
      offsets(i + 1) = offsets(i) + sorted(i)._2.length
      i += 1
    }
    val nbrs = new Array[Int](offsets(ids.length))
    i = 0
    while (i < ids.length) {
      val ns = sorted(i)._2
      var j = 0
      while (j < ns.length) {
        nbrs(offsets(i) + j) = java.util.Arrays.binarySearch(ids, ns(j))
        j += 1
      }
      i += 1
    }
    new Csr(ids, offsets, nbrs)
  }

  /** Hop-distance BFS from vertex index `s`. `dist` must be all −1 on
    * entry (the caller resets the visited entries afterwards); visited
    * indices land in `order` in BFS order. Returns how many. */
  def bfs(c: Csr, s: Int, dist: Array[Int], order: Array[Int]): Int = {
    dist(s) = 0
    order(0) = s
    var head = 0
    var tail = 1
    while (head < tail) {
      val v = order(head)
      head += 1
      val dv = dist(v) + 1
      var a = c.offsets(v)
      val end = c.offsets(v + 1)
      while (a < end) {
        val w = c.nbrs(a)
        if (dist(w) < 0) { dist(w) = dv; order(tail) = w; tail += 1 }
        a += 1
      }
    }
    tail
  }
}
