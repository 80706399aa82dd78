package graft

import graft.GraphReplays.adjacency
import graft.graph.Csr
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.scalatest.funsuite.AnyFunSuite

/** The broadcast-CSR kernels against driver-side replays written
  * straight from the edge list — no Spark session. Toy graphs are
  * seeded random multigraphs: parallel and reversed edges, self-loops,
  * isolated pairs. */
class CsrSpec extends AnyFunSuite {

  private def randomEdges(seed: Long, n: Int, m: Int): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    // sparse, non-contiguous ids so index ≠ id
    Seq.fill(m)((r.nextInt(n) * 7L + 3L, r.nextInt(n) * 7L + 3L))
  }

  private val graphs: Seq[Seq[(Long, Long)]] =
    Seq(Seq((1L, 2L)), Seq((5L, 5L)),
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)),
      Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 3L))) ++
      (1 to 12).map(i => randomEdges(i, 6 + i, 4 + 3 * i))

  private def csrOf(e: Seq[(Long, Long)]): Csr =
    Csr(e.map(_._1).toArray, e.map(_._2).toArray)

  test("CSR from an edge list: ids ascending, neighbor runs sorted, multiplicity kept") {
    graphs.foreach { e =>
      val c = csrOf(e)
      val adj = adjacency(e)
      assert(c.ids.toSeq == adj.keys.toSeq.sorted)
      c.ids.indices.foreach { i =>
        val run = (c.offsets(i) until c.offsets(i + 1)).map(a => c.ids(c.nbrs(a)))
        assert(run == adj(c.ids(i)), s"vertex ${c.ids(i)}")
      }
    }
    assert(csrOf(Nil).size == 0 && csrOf(Nil).arcs == 0)
  }

  test("label propagation == synchronous replay, smallest label on ties") {
    graphs.foreach { e =>
      val c = csrOf(e)
      val lab = GraphReplays.labelPropagation(e, 5)
      val got = Csr.labelPropagation(c, 5)
      assert(c.ids.indices.map(i => c.ids(got(i))) == c.ids.toSeq.map(lab), s"$e")
    }
  }

  test("dense rank numbers distinct labels in ascending order") {
    assert(Csr.denseRank(Array(4, 4, 0, 2, 0)).toSeq == Seq(2, 2, 0, 1, 0))
    assert(Csr.denseRank(Array.empty[Int]).isEmpty)
  }

  test("components == union-find labelled by min id") {
    graphs.foreach { e =>
      val want = GraphReplays.components(e)
      val c = csrOf(e)
      val comp = Csr.components(c)
      assert(c.ids.indices.map(i => c.ids(comp(i))) == c.ids.toSeq.map(want), s"$e")
    }
  }

  test("groupBy lists every label's members ascending") {
    val (start, members) = Csr.groupBy(Array(2, 0, 2, 1, 0), 4)
    assert(start.toSeq == Seq(0, 2, 3, 5, 5))
    assert(members.toSeq == Seq(1, 4, 3, 0, 2))
  }

  /** Arbitrary community labels: three communities by id. */
  private def labels(c: Csr): Array[Int] = c.ids.map(id => (id % 3).toInt)

  /** The DataFrame sample's intra-community degree and triangle-row
    * credits, replayed from the edge list: orient every edge lo→hi by
    * (degree, id), one row per oriented copy and per w in the two ends'
    * distinct out-sets, kept when lo, hi, w share the community. */
  private def replayStats(e: Seq[(Long, Long)], comm: Long => Int,
                          k: Int): Map[Long, (Long, Long)] = {
    val deg = adjacency(e).map { case (v, ns) => v -> ns.size }
    val oriented = e.map { case (s, d) =>
      if (deg(s) < deg(d) || (deg(s) == deg(d) && s < d)) (s, d) else (d, s)
    }
    val out = oriented.groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).toSet }
    val rows = oriented.flatMap { case (lo, hi) =>
      (out.getOrElse(lo, Set.empty[Long]) intersect out.getOrElse(hi, Set.empty[Long]))
        .toSeq.map(w => (lo, hi, w))
    }.filter { case (lo, hi, w) => comm(lo) == k && comm(hi) == k && comm(w) == k }
    val tri = rows.flatMap { case (lo, hi, w) => Seq(lo, hi, w) }
      .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
    val intra = e.filter { case (s, d) => comm(s) == k && comm(d) == k }
    val intraDeg = intra.flatMap { case (s, d) => Seq(s, d) }
      .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
    deg.keys.filter(comm(_) == k).map { v =>
      v -> (intraDeg.getOrElse(v, 0L), tri.getOrElse(v, 0L))
    }.toMap
  }

  test("intra-community degrees and triangles == the DataFrame rows replayed") {
    graphs.foreach { e =>
      val c = csrOf(e)
      val comm = labels(c)
      val byId = c.ids.zip(comm).toMap
      val (start, members) = Csr.groupBy(comm, 3)
      (0 until 3).foreach { k =>
        val mem = members.slice(start(k), start(k + 1))
        val (deg, tri) = Csr.intraStats(c, comm, mem)
        val got = mem.indices.map(p => c.ids(mem(p)) -> (deg(p), tri(p))).toMap
        assert(got == replayStats(e, byId, k), s"community $k of $e")
      }
    }
    // one triangle inside a community: one credit per vertex
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val c = csrOf(tri)
    val (deg, t) = Csr.intraStats(c, Array(0, 0, 0), Array(0, 1, 2))
    assert(deg.toSeq == Seq(2L, 2L, 2L) && t.toSeq == Seq(1L, 1L, 1L))
  }

  test("whole-graph triangle counts == the DataFrame rows replayed") {
    // plus denser multigraphs, where most vertices close triangles
    val dense = (1 to 6).map(i => randomEdges(100 + i, 8 + i, 30 + 6 * i))
    (graphs ++ dense).foreach { e =>
      val c = csrOf(e)
      val got = Csr.triangles(c)
      val want = replayStats(e, _ => 0, 0)
      assert(c.ids.indices.map(i => c.ids(i) -> got(i)).toMap ==
        want.map { case (v, (_, t)) => v -> t }, s"$e")
    }
    assert(Csr.triangles(csrOf(Nil)).isEmpty)
  }

  test("whole-graph triangle counts on simple graphs == brute-force triples") {
    (1 to 8).foreach { i =>
      val simple = randomEdges(200 + i, 10 + i, 40 + 5 * i)
        .collect { case (s, d) if s != d => (math.min(s, d), math.max(s, d)) }
        .distinct
      val c = csrOf(simple)
      val adj = adjacency(simple).map { case (v, ns) => v -> ns.toSet }
      val vs = c.ids.toSeq
      val brute = vs.map { v =>
        v -> adj(v).toSeq.combinations(2).count { case Seq(a, b) => adj(a)(b) }.toLong
      }.toMap
      val got = Csr.triangles(c)
      assert(vs.indices.map(k => vs(k) -> got(k)).toMap == brute, s"$simple")
      assert(brute.values.sum > 0, "no triangle in the fixture")
    }
    // K4 plus a pendant: 3 triangles per clique vertex, none at the tail
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    assert(Csr.triangles(csrOf(k4)).toSeq == Seq(3L, 3L, 3L, 3L, 0L))
  }

  test("community walk == the DataFrame sample's walk replayed") {
    def keep(id: Long, n: Int, seed: Long, cap: Int): Boolean = {
      val h = XXH64.hashLong(seed, XXH64.hashLong(id, 42L))
      (((h % (1L << 30)) + (1L << 30)) % (1L << 30)) * n < (1L << 30) * cap
    }
    for (e <- graphs; cap <- Seq(1000000, 2); seed <- Seq(42L, 7L)) {
      val c = csrOf(e)
      val comm = labels(c)
      val byId = c.ids.zip(comm).toMap
      val (start, members) = Csr.groupBy(comm, 3)
      (0 until 3).foreach { k =>
        val mem = members.slice(start(k), start(k + 1))
        val got = Csr.communityWalk(c, comm, mem, 2.0, seed, cap).toSeq
        val stats = replayStats(e, byId, k)
        val n = stats.size
        val want = if (n == 0) Seq.empty else {
          val cc = stats.keys.toSeq.sorted.map { v =>
            val (d, t) = stats(v)
            if (d >= 2) 2.0 * t / (d * (d - 1)).toDouble else 0.0
          }
          val avg = BigDecimal(cc.sum / n)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          val walkLen = (n.toDouble / (1.0 + 2.0 * avg)).toInt + 1
          val kept = e.filter { case (s, d) =>
            byId(s) == k && byId(d) == k &&
              (n <= cap || (keep(s, n, seed, cap) && keep(d, n, seed, cap)))
          }
          val adj = adjacency(kept)
          val vs = adj.keys.toSeq.sorted
          if (vs.isEmpty) Seq.empty else {
            var cur = vs(Csr.portableChoice(seed, k, 0, vs.size))
            val visited = scala.collection.mutable.LinkedHashSet(cur)
            for (step <- 1 until walkLen) {
              cur = adj(cur)(Csr.portableChoice(seed, k, step, adj(cur).size))
              visited += cur
            }
            visited.toSeq
          }
        }
        assert(got == want, s"community $k of $e (cap $cap, seed $seed)")
      }
    }
  }

  test("walk length truncates n / (1 + alpha * avg_cc), plus one") {
    assert(Csr.walkLength(10, 0.5, 2.0) == 6)
    assert(Csr.walkLength(3, 1.0, 2.0) == 2)
    assert(Csr.walkLength(7, 0.0, 2.0) == 8)
  }
}
