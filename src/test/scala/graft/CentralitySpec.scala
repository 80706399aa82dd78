package graft

import graft.graph.{Graph, GraphBuilder, Gx, Hits, Metrics}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Known-answer + brute-force-replica coverage for the centrality and
  * link-prediction family (Katz, eigenvector, HITS, degree centrality,
  * Adamic–Adar). The replicas re-run the exact fixed-iteration update
  * rules driver-side (same per-round 8-dp state pinning), so agreement
  * is expected to rounding precision regardless of summation order. */
class CentralitySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def graphOf(edges: Seq[(Long, Long)]): Graph = {
    val e = edges.toDF("src", "dst")
    Graph(GraphBuilder.vertices(e), e)
  }

  // seeded random graph: 30 vertices, ~80 canonical edges
  private lazy val randomEdges: Seq[(Long, Long)] = {
    val rnd = new Random(7)
    (1 to 120).map { _ =>
      val a = rnd.nextInt(30).toLong
      val b = rnd.nextInt(30).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
  }

  test("katz matches the driver-side replica on a random graph") {
    val adj = GraphReplays.adjacency(randomEdges)
    var x = adj.keys.map(_ -> 1.0).toMap
    for (_ <- 1 to 8)
      x = adj.keys.map(v => v -> (1.0 + 0.005 * adj(v).map(x).sum)).toMap
    val got = Gx.katz(graphOf(randomEdges))
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == x.keySet)
    for ((v, e) <- x) assert(math.abs(got(v) - e) < 2e-6, s"vertex $v")
  }

  test("eigenvector matches the replica and is uniform on a clique") {
    val adj = GraphReplays.adjacency(randomEdges)
    // micro-int replica: exactly the engine's integer-grid update
    var q = adj.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 8) {
      val m = adj.keys.map(v => v -> adj(v).map(q).sum).toMap
      val norm = math.sqrt(
        m.values.map(v => BigInt(v) * BigInt(v)).sum.toDouble)
      q = m.map { case (k, v) => k -> math.round(1e6 * v.toDouble / norm) }
    }
    val x = q.map { case (k, v) => k -> v / 1e6 }
    val got = Gx.eigenvector(graphOf(randomEdges))
      .as[(Long, Double)].collect().toMap
    for ((v, e) <- x) assert(math.abs(got(v) - e) < 2e-6, s"vertex $v")

    // K4: perfectly symmetric → every vertex exactly 1/2 (L2 norm)
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val uni = Gx.eigenvector(graphOf(k4)).as[(Long, Double)].collect()
    assert(uni.length == 4 && uni.forall { case (_, v) => v == 0.5 })
  }

  test("hits matches the driver-side replica on a directed graph") {
    val rnd = new Random(11)
    val dedges = (1 to 80).map { _ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong)
    }.filter(p => p._1 != p._2).distinct
    val verts = dedges.flatMap(e => Seq(e._1, e._2)).distinct
    val out = dedges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val in = dedges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var hubQ = verts.map(_ -> 1000000L).toMap
    var authQ = hubQ
    def norm(m: Map[Long, Long]): Double =
      math.sqrt(m.values.map(v => BigInt(v) * BigInt(v)).sum.toDouble)
    for (_ <- 1 to 8) {
      val ar = verts.map(v => v -> in.getOrElse(v, Nil).map(hubQ).sum).toMap
      val an = norm(ar)
      authQ = ar.map { case (k, v) => k -> math.round(1e6 * v.toDouble / an) }
      val hr = verts.map(v => v -> out.getOrElse(v, Nil).map(authQ).sum).toMap
      val hn = norm(hr)
      hubQ = hr.map { case (k, v) => k -> math.round(1e6 * v.toDouble / hn) }
    }
    val auth = authQ.map { case (k, v) => k -> v / 1e6 }
    val hub = hubQ.map { case (k, v) => k -> v / 1e6 }
    val got = Hits.hits(dedges.toDF("src", "dst"))
      .as[(Long, Double, Double)].collect()
      .map { case (id, a, h) => id -> (a, h) }.toMap
    assert(got.keySet == verts.toSet)
    for (v <- verts) {
      assert(math.abs(got(v)._1 - auth(v)) < 2e-6, s"auth $v")
      assert(math.abs(got(v)._2 - hub(v)) < 2e-6, s"hub $v")
    }
  }

  test("salsa closed form == stationary limit of the explicit SALSA walk") {
    val rnd = new Random(7)
    val dedges = (1 to 60).map { _ =>
      (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong)
    }.filter(p => p._1 != p._2).distinct
    val in = dedges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val out = dedges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val authNodes = dedges.map(_._2).distinct
    val hubNodes = dedges.map(_._1).distinct
    // authority chain: from authority w, backward along a uniform
    // in-edge to hub u, forward along a uniform out-edge of u. Init
    // uniform over authorities — per-component mass then equals the
    // meta-chain's n_a(comp)/N_a weighting, so the limit IS the
    // closed form (self-transitions w→w make every component aperiodic)
    var a = authNodes.map(_ -> 1.0 / authNodes.size).toMap
    for (_ <- 1 to 400) {
      val next = collection.mutable.Map(authNodes.map(_ -> 0.0): _*)
      for (w <- authNodes; u <- in(w); v <- out(u))
        next(v) += a(w) / in(w).size / out(u).size
      a = next.toMap
    }
    var h = hubNodes.map(_ -> 1.0 / hubNodes.size).toMap
    for (_ <- 1 to 400) {
      val next = collection.mutable.Map(hubNodes.map(_ -> 0.0): _*)
      for (u <- hubNodes; w <- out(u); v <- in(w))
        next(v) += h(u) / out(u).size / in(w).size
      h = next.toMap
    }
    val got = Hits.salsa(dedges.toDF("src", "dst"))
      .as[(Long, Double, Double)].collect()
      .map { case (id, au, hu) => id -> (au, hu) }.toMap
    assert(got.keySet == (authNodes ++ hubNodes).toSet)
    for (v <- got.keySet) {
      assert(math.abs(got(v)._1 - a.getOrElse(v, 0.0)) < 1e-5, s"auth $v")
      assert(math.abs(got(v)._2 - h.getOrElse(v, 0.0)) < 1e-5, s"hub $v")
    }
    // scores are distributions: each side sums to 1 (up to 6-dp rounding)
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-3)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-3)
  }

  test("standardRanks slots equal the independent single-run loops") {
    val g = graphOf(randomEdges)
    val hubs = Seq(3L, 7L)
    val shared = Gx.standardRanks(g, hubs)
    val pr = shared.filter($"slot" === 0)
      .select($"id", round($"rank", 6).as("r")).as[(Long, Double)].collect().toMap
    val prSolo = Gx.pageRank(g).as[(Long, Double)].collect().toMap
    assert(pr == prSolo)
    val ppr = shared.filter($"slot" === 1)
      .select($"id", round($"rank", 6).as("r")).as[(Long, Double)].collect().toMap
    val pprSolo = Gx.personalizedPageRank(g, 3L).as[(Long, Double)].collect().toMap
    assert(ppr == pprSolo)
  }

  test("closeness and harmonic are exact when landmarks = all vertices") {
    // asymmetric kite+tail: landmark approximations become exact with
    // every vertex a landmark (the documented opt-in, nx semantics)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    val adj = GraphReplays.adjacency(edges)
    def bfsDist(s: Long): Map[Long, Int] = GraphReplays.bfsFrom(adj, s)
    val wantClose = adj.keys.map { v =>
      val d = bfsDist(v) - v
      v -> (d.size.toDouble / d.values.sum)
    }.toMap
    val wantHarm = adj.keys.map { v =>
      v -> (bfsDist(v) - v).values.map(1.0 / _).sum
    }.toMap
    // every vertex a landmark, on both sides of the vertex gate
    val (csr, pregel) = GraphReplays.bothBranches(edges) { g =>
      val dists = Gx.multiSourceBfs(g, adj.keys.toSeq)
      (graph.Iterative.closenessFrom(dists).as[(Long, Double)].collect().toMap,
        graph.Iterative.harmonicFrom(dists).as[(Long, Double)].collect().toMap)
    }
    assert(csr == pregel)
    val (gotClose, gotHarm) = csr
    for (v <- adj.keys) {
      assert(math.abs(gotClose(v) - wantClose(v)) <= 1e-6,
        s"closeness $v: ${gotClose(v)} vs ${wantClose(v)}")
      assert(math.abs(gotHarm(v) - wantHarm(v)) <= 1e-6,
        s"harmonic $v: ${gotHarm(v)} vs ${wantHarm(v)}")
    }
  }

  test("degree centrality on triangle+pendant") {
    val g = graphOf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
    val dc = Metrics.degreeCentrality(g).as[(Long, Double)].collect().toMap
    assert(dc(3L) == 1.0)           // deg 3 over n-1 = 3
    assert(dc(4L) == 0.333333)      // 1/3 rounded to 6 dp
    assert(dc(1L) == 0.666667 && dc(2L) == 0.666667)
  }

  test("collectNeighborIds on triangle+pendant") {
    val g = graphOf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
    val nb = g.collectNeighborIds
      .as[(Long, Seq[Long])].collect().toMap
    assert(nb == Map(1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L),
      3L -> Seq(1L, 2L, 4L), 4L -> Seq(3L)))
  }

  test("rich club on triangle+pendant") {
    val g = graphOf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
    val rc = Metrics.richClub(g)
      .select($"k", $"n_k", $"e_k", $"rich_club")
      .as[(Long, Long, Long, Double)].collect().toList
    // k=0: all 4 vertices, all 4 edges → 2·4/(4·3); k=1: the triangle
    // (deg>1 = {1,2,3}, pendant edge drops) → 2·3/(3·2) = 1;
    // k=2: only vertex 3 remains → filtered (n_k < 2)
    assert(rc == List((0L, 4L, 4L, 0.666667), (1L, 3L, 3L, 1.0)))
  }

  test("adamic-adar on triangle+pendant") {
    val g = graphOf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
    val aa = g.adamicAdar
      .select($"src", $"dst", $"common_cnt", $"adamic_adar")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (s, d, c, v) => (s, d) -> ((c, v)) }.toMap
    // edge (1,2): common {3}, deg(3)=3 → 1/ln 3
    assert(aa((1L, 2L)) == ((1L, BigDecimal(1.0 / math.log(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // edge (1,3): common {2}, deg(2)=2 → 1/ln 2 = 1.442695
    assert(aa((1L, 3L))._2 == 1.442695)
    // pendant edge (3,4): no common neighbors → 0
    assert(aa((3L, 4L)) == ((0L, 0.0)))
    assert(aa.size == 4)
  }
}
