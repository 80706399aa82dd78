package graft.graph

/** Compressed-sparse-row adjacency of a [[Graph]]'s undirected edge
  * set — the one broadcast form every below-gate kernel reads
  * ([[Graph.csr]]: square count, per-vertex triangle counts,
  * multi-source BFS, Brandes, label propagation, connected components
  * and the community walk sample).
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

  /** Arcs of index `i`: a self-loop counts 2, each parallel edge 1. */
  def degree(i: Int): Int = offsets(i + 1) - offsets(i)

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
}

object Csr {

  /** From an edge list, edge `k` being (`src(k)`, `dst(k)`): each edge
    * becomes the arcs src→dst and dst→src. Counting sort by source,
    * then each neighbor run sorted — O(|E| log maxDeg) on primitives. */
  def apply(src: Array[Long], dst: Array[Long]): Csr = {
    val m = src.length
    val ends = new Array[Long](2 * m)
    System.arraycopy(src, 0, ends, 0, m)
    System.arraycopy(dst, 0, ends, m, m)
    java.util.Arrays.sort(ends)
    var n = 0
    var i = 0
    while (i < ends.length) {
      if (n == 0 || ends(i) != ends(n - 1)) { ends(n) = ends(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(ends, n)
    val s = src.map(java.util.Arrays.binarySearch(ids, _))
    val d = dst.map(java.util.Arrays.binarySearch(ids, _))
    val offsets = new Array[Int](n + 1)
    i = 0
    while (i < m) { offsets(s(i) + 1) += 1; offsets(d(i) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { offsets(i + 1) += offsets(i); i += 1 }
    val fill = java.util.Arrays.copyOf(offsets, n)
    val nbrs = new Array[Int](2 * m)
    i = 0
    while (i < m) {
      nbrs(fill(s(i))) = d(i); fill(s(i)) += 1
      nbrs(fill(d(i))) = s(i); fill(d(i)) += 1
      i += 1
    }
    i = 0
    while (i < n) { java.util.Arrays.sort(nbrs, offsets(i), offsets(i + 1)); i += 1 }
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

  /** Synchronous label propagation, the GraphX branch's exact rule
    * ([[Gx.labelPropagation]]): labels start as the vertices
    * themselves; each round every vertex adopts its neighbors' most
    * frequent label (one vote per arc, so parallel arcs and self-loops
    * vote as GraphX's messages do), ties broken by the smallest label.
    * Labels are vertex indices — index order is id order, so the
    * smallest index is the smallest id. O(iters · Σ deg·log deg). */
  def labelPropagation(c: Csr, iters: Int): Array[Int] = {
    var cur = Array.tabulate(c.size)(identity)
    var next = new Array[Int](c.size)
    var maxDeg = 0
    var v = 0
    while (v < c.size) {
      maxDeg = math.max(maxDeg, c.offsets(v + 1) - c.offsets(v))
      v += 1
    }
    val votes = new Array[Int](maxDeg)
    var round = 0
    while (round < iters) {
      v = 0
      while (v < c.size) {
        val start = c.offsets(v)
        val d = c.offsets(v + 1) - start
        var k = 0
        while (k < d) { votes(k) = cur(c.nbrs(start + k)); k += 1 }
        java.util.Arrays.sort(votes, 0, d)
        // ascending runs: a strictly longer run wins, so ties keep the
        // smaller label
        var best = cur(v)
        var bestRun = 0
        var i = 0
        while (i < d) {
          var j = i + 1
          while (j < d && votes(j) == votes(i)) j += 1
          if (j - i > bestRun) { best = votes(i); bestRun = j - i }
          i = j
        }
        next(v) = best
        v += 1
      }
      val t = cur; cur = next; next = t
      round += 1
    }
    cur
  }

  /** Dense rank of index-valued labels: the k-th smallest distinct
    * label becomes k — [[Iterative.normalizeLabels]]' numbering. */
  def denseRank(labels: Array[Int]): Array[Int] = {
    val rank = Array.fill(labels.length)(-1)
    labels.foreach(l => rank(l) = 0)
    var next = 0
    var i = 0
    while (i < rank.length) {
      if (rank(i) == 0) { rank(i) = next; next += 1 }
      i += 1
    }
    labels.map(rank)
  }

  /** Connected components: each index's component is the smallest
    * index it reaches (index order is id order, so this is GraphX's
    * min-vertex-id label). One [[bfs]] per component, in ascending
    * start order, O(|V| + arcs); components are disjoint, so `dist`
    * never needs a reset. */
  def components(c: Csr): Array[Int] = {
    val comp = Array.fill(c.size)(-1)
    val dist = Array.fill(c.size)(-1)
    val order = new Array[Int](c.size)
    var s = 0
    while (s < c.size) {
      if (comp(s) < 0) {
        val reached = bfs(c, s, dist, order)
        var j = 0
        while (j < reached) { comp(order(j)) = s; j += 1 }
      }
      s += 1
    }
    comp
  }

  /** Indices grouped by label: community `k`'s members, ascending, are
    * `members(start(k) until start(k + 1))`. Returns (start, members). */
  def groupBy(labels: Array[Int], n: Int): (Array[Int], Array[Int]) = {
    val start = new Array[Int](n + 1)
    labels.foreach(l => start(l + 1) += 1)
    var k = 0
    while (k < n) { start(k + 1) += start(k); k += 1 }
    val fill = java.util.Arrays.copyOf(start, n)
    val members = new Array[Int](labels.length)
    var i = 0
    while (i < labels.length) {
      members(fill(labels(i))) = i
      fill(labels(i)) += 1
      i += 1
    }
    (start, members)
  }

  /** Engine-portable bounded choice: index in [0, n) derived from the
    * first 4 md5 bytes of "seed:community:step" — in SQL this is
    * `('0x' || substr(md5(concat(seed,':',c,':',t)), 1, 8))::BIGINT % n`,
    * so every walk step reproduces bit-for-bit in DuckDB. */
  def portableChoice(seed: Long, c: Int, t: Int, n: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed:$c:$t".getBytes("UTF-8"))
    val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    (h % n).toInt
  }

  /** Giant-community thinning test for vertex `id` of an `n`-member
    * community: Spark's `pmod(xxhash64(id, seed), 2^30) · n <
    * 2^30 · maxCommVertices` ([[CommunitySample]]'s DataFrame branch). */
  def thinKeep(id: Long, n: Int, seed: Long, maxCommVertices: Int): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val hashMod = 1L << 30
    val h = XXH64.hashLong(seed, XXH64.hashLong(id, 42L))
    java.lang.Math.floorMod(h, hashMod) * n < hashMod * maxCommVertices.toLong
  }

  /** Per-member (intra-community degree, intra-community triangle
    * credits) of one community, `members` ascending. Reproduces the
    * DataFrame sample's counts on any multigraph: the degree counts
    * intra arcs (a self-loop twice, every parallel edge), and the
    * triangles are the rows of [[Graph.triangleEnumeration]] whose
    * three vertices lie in the community, each row crediting its lo,
    * hi and w once. That enumeration orients every edge lo→hi by
    * (degree, id) over the whole graph (a self-loop stays (v, v)),
    * keeps one row per oriented edge copy, and intersects the two
    * endpoints' DISTINCT oriented out-sets. */
  def intraStats(c: Csr, comm: Array[Int], members: Array[Int])
      : (Array[Long], Array[Long]) = {
    val m = members.length
    val deg = new Array[Long](m)
    val tri = new Array[Long](m)
    if (m == 0) return (deg, tri)
    val community = comm(members(0))
    def pos(v: Int) = java.util.Arrays.binarySearch(members, v)
    // distinct intra oriented out-targets per member, with the number
    // of oriented edge copies to each
    val outStart = new Array[Int](m + 1)
    val outBuf = scala.collection.mutable.ArrayBuilder.make[Int]
    val mulBuf = scala.collection.mutable.ArrayBuilder.make[Long]
    var p = 0
    while (p < m) {
      val u = members(p)
      var a = c.offsets(u)
      val end = c.offsets(u + 1)
      while (a < end) {
        val x = c.nbrs(a)
        var run = 1
        while (a + run < end && c.nbrs(a + run) == x) run += 1
        if (comm(x) == community) {
          deg(p) += run
          val du = c.degree(u)
          val dx = c.degree(x)
          if (x == u) { outBuf += x; mulBuf += run / 2 }
          else if (du < dx || (du == dx && u < x)) { outBuf += x; mulBuf += run }
        }
        a += run
      }
      outStart(p + 1) = outBuf.length
      p += 1
    }
    val out = outBuf.result()
    val mul = mulBuf.result()
    p = 0
    while (p < m) {
      var e = outStart(p)
      while (e < outStart(p + 1)) {
        val q = pos(out(e))
        // sorted merge of the two distinct out-sets
        var i = outStart(p)
        var j = outStart(q)
        var common = 0L
        while (i < outStart(p + 1) && j < outStart(q + 1)) {
          if (out(i) < out(j)) i += 1
          else if (out(i) > out(j)) j += 1
          else {
            tri(pos(out(i))) += mul(e)
            common += 1
            i += 1; j += 1
          }
        }
        tri(p) += mul(e) * common
        tri(q) += mul(e) * common
        e += 1
      }
      p += 1
    }
    (deg, tri)
  }

  /** Per-index triangle counts of the whole graph: [[intraStats]] with
    * one community holding every index that `keep` holds, so each kept
    * index gets exactly the credits [[Graph.triangleVertexCounts]]'
    * DataFrame stream sums for it, and every other index 0. `keep` is
    * the vertex table: the stream's inner joins against the degree
    * table drop every edge with an endpoint outside it, while the
    * orientation still ranks by the full degree. O(|V| + arcs) memory. */
  def triangles(c: Csr, keep: Int => Boolean = _ => true): Array[Long] = {
    val members = (0 until c.size).filter(keep).toArray
    val comm = new Array[Int](c.size)
    var i = 0
    while (i < c.size) { if (!keep(i)) comm(i) = 1; i += 1 }
    val tri = intraStats(c, comm, members)._2
    val out = new Array[Long](c.size)
    var p = 0
    while (p < members.length) { out(members(p)) = tri(p); p += 1 }
    out
  }

  /** Average local clustering coefficient of one community, over ALL
    * its members (2·t / (d·(d−1)), zero below degree 2), rounded to 6
    * decimals the way Spark's `round(double, 6)` rounds. */
  def communityAvgCc(c: Csr, comm: Array[Int], members: Array[Int]): Double = {
    val (deg, tri) = intraStats(c, comm, members)
    var sum = 0.0
    var p = 0
    while (p < members.length) {
      val d = deg(p)
      if (d >= 2) sum += 2.0 * tri(p) / (d * (d - 1)).toDouble
      p += 1
    }
    BigDecimal(sum / members.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Walk length n / (1 + α·cc) + 1 (ref get_len, main.py:51-52). */
  def walkLength(n: Int, avgCc: Double, alpha: Double): Int =
    (n.toDouble / (1.0 + alpha * avgCc)).toInt + 1

  /** One community's random-walk sample ([[CommunitySample]]): the
    * visited vertex ids in first-visit order. The walk runs over the
    * community's intra arcs — thinned by [[thinKeep]] when the
    * community has more than `maxCommVertices` members — from the
    * members that keep at least one arc, ascending; every step is a
    * [[portableChoice]] among the current vertex's kept arcs in
    * ascending order, multiplicity kept. Empty when no arc is kept. */
  def communityWalk(c: Csr, comm: Array[Int], members: Array[Int],
                    alpha: Double, seed: Long,
                    maxCommVertices: Int): Array[Long] = {
    val m = members.length
    if (m == 0) return Array.empty[Long]
    val community = comm(members(0))
    val walkLen = walkLength(m, communityAvgCc(c, comm, members), alpha)
    val thinned = m > maxCommVertices
    def kept(v: Int) = !thinned || thinKeep(c.ids(v), m, seed, maxCommVertices)
    // kept arcs per member, as member positions (ascending, so their
    // ids are ascending too)
    val adjStart = new Array[Int](m + 1)
    val adjBuf = scala.collection.mutable.ArrayBuilder.make[Int]
    var p = 0
    while (p < m) {
      val u = members(p)
      var n = 0
      if (kept(u)) {
        var a = c.offsets(u)
        while (a < c.offsets(u + 1)) {
          val x = c.nbrs(a)
          if (comm(x) == community && kept(x)) {
            adjBuf += java.util.Arrays.binarySearch(members, x)
            n += 1
          }
          a += 1
        }
      }
      adjStart(p + 1) = adjStart(p) + n
      p += 1
    }
    val adj = adjBuf.result()
    // a kept arc's far end keeps the reverse arc, so every step lands
    // on another walkable member
    val walkable = (0 until m).filter(q => adjStart(q + 1) > adjStart(q)).toArray
    if (walkable.isEmpty) return Array.empty[Long]
    var cur = walkable(portableChoice(seed, community, 0, walkable.length))
    val visited = scala.collection.mutable.LinkedHashSet(c.ids(members(cur)))
    var step = 1
    while (step < walkLen) {
      val from = adjStart(cur)
      cur = adj(from + portableChoice(seed, community, step, adjStart(cur + 1) - from))
      visited += c.ids(members(cur))
      step += 1
    }
    visited.toArray
  }
}
