package graft

import graft.GraphReplays.bothBranches
import graft.graph.{GraphBuilder, Gx, Iterative}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DataFrame-iterative algorithms of [[Iterative]] (coloring,
  * Louvain, Borůvka), and known-answer toy graphs for the production
  * traversals and rankings of [[Gx]], each run on both sides of the
  * vertex gate. */
class IterativeSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // two components: path 1-2-3-4 and triangle 10-11-12, isolated 20
  private val twoComp = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L))

  test("greedy coloring: proper coloring, deterministic, bounded palette") {
    val g = GraphBuilder.coPurchase(spark, sf)
    val c = Iterative.greedyColoring(g).as[(Long, Long)].collect().toMap
    // every vertex colored
    assert(c.size == g.vertices.count())
    // proper: no edge joins two equal colors
    val edges = g.edges.as[(Long, Long)].collect()
    edges.foreach { case (s, d) =>
      assert(c(s) != c(d), s"edge $s-$d monochromatic")
    }
    // greedy bound: colors used <= max degree + 1
    val maxDeg = g.degrees.agg(max("degree")).head.getLong(0)
    assert(c.values.max <= maxDeg)
    val again = Iterative.greedyColoring(g).as[(Long, Long)].collect().toMap
    assert(c == again)
  }

  test("greedy coloring is invariant to shuffle partition count") {
    val g = GraphBuilder.coPurchase(spark, sf)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val a = Iterative.greedyColoring(g).as[(Long, Long)].collect().toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = Iterative.greedyColoring(g).as[(Long, Long)].collect().toMap
      assert(a == b, "coloring changed with partition count")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("two-level louvain: total partition, modularity never below phase-1") {
    // weighted modularity Q = Σ_c [w_in(c)/m − (S_c/2m)²] over the
    // weighted graph both levels optimize
    def wQ(we: org.apache.spark.sql.DataFrame,
        labels: org.apache.spark.sql.DataFrame): Double = {
      val m = we.agg(sum("weight")).head.getLong(0).toDouble
      val lS = labels.select($"id".as("src"), $"community".as("ca"))
      val lD = labels.select($"id".as("dst"), $"community".as("cb"))
      val lab = we.join(lS, "src").join(lD, "dst")
      val win = lab.filter($"ca" === $"cb")
        .groupBy($"ca".as("c")).agg(sum("weight").as("w_in"))
      val sym = we.select($"src".as("id"), $"weight")
        .union(we.select($"dst".as("id"), $"weight"))
      val sc = sym.join(labels, "id")
        .groupBy($"community".as("c")).agg(sum("weight").as("s_c"))
      sc.join(win, Seq("c"), "left").na.fill(0L, Seq("w_in"))
        .agg(sum($"w_in" / m - pow($"s_c" / (2.0 * m), 2)))
        .head.getDouble(0)
    }
    val we = GraphBuilder.weightedEdges(spark, sf)
      .select($"src", $"dst", $"weight".cast("long").as("weight"))
    val lab1 = Iterative.louvainMoves(we)
    val lab2 = Iterative.louvainTwoLevelFrom(we, lab1)
    // total partition: exactly the phase-1 vertex set, one label each
    assert(lab2.count() == lab1.count())
    assert(lab2.select("id").distinct().count() == lab2.count())
    // the contraction can only coarsen: communities never increase
    val n1 = lab1.select("community").distinct().count()
    val n2 = lab2.select("community").distinct().count()
    assert(n2 <= n1, s"phase-2 grew communities: $n1 -> $n2")
    // Blondel's guarantee: each greedy level is non-decreasing in Q
    val q1 = wQ(we, lab1)
    val q2 = wQ(we, lab2)
    assert(q2 >= q1 - 1e-12, s"modularity decreased: $q1 -> $q2")
  }

  test("two-level louvain merges an obvious supergraph community") {
    // two triangles bridged by ONE light edge, plus a heavy pair: with
    // singleton starts phase-1 finds the triangles; phase-2 must keep
    // them apart (bridge too weak) while the heavy pair stays merged —
    // and the labels must be a deterministic function of the input
    val we = Seq(
      (1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 10L),
      (11L, 12L, 10L), (12L, 13L, 10L), (11L, 13L, 10L),
      (3L, 11L, 1L),
      (21L, 22L, 30L))
      .toDF("src", "dst", "weight")
    def twoLevel(): Map[Long, Long] =
      Iterative.louvainTwoLevelFrom(we, Iterative.louvainMoves(we))
        .as[(Long, Long)].collect().toMap
    val lab = twoLevel()
    assert(lab.keySet == Set(1L, 2L, 3L, 11L, 12L, 13L, 21L, 22L))
    assert(Set(lab(1L), lab(2L), lab(3L)).size == 1, "triangle A split")
    assert(Set(lab(11L), lab(12L), lab(13L)).size == 1, "triangle B split")
    assert(lab(21L) == lab(22L), "heavy pair split")
    assert(lab(1L) != lab(21L), "disconnected groups merged")
    assert(lab == twoLevel())
  }

  test("boruvka msf: toy graph yields the hand-computed spanning tree") {
    // square 1-2-3-4 with diagonal: MST keeps the three lightest edges
    val we = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L), (1L, 4L, 4L),
      (1L, 3L, 5L)).toDF("src", "dst", "weight")
    val got = Iterative.minimumSpanningForest(we)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L)))
  }

  test("boruvka msf == local kruskal on the real co-purchase graph") {
    val we = GraphBuilder.weightedEdges(spark, sf)
      .select($"src", $"dst", $"weight".cast("long"))
    val got = Iterative.minimumSpanningForest(we)
      .as[(Long, Long, Long)].collect().toSet
    // independent local Kruskal with union-find under the same strict
    // (weight, src, dst) order
    val edges = we.as[(Long, Long, Long)].collect()
      .sortBy { case (s, d, w) => (w, s, d) }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val want = edges.filter { case (s, d, _) =>
      val (rs, rd) = (find(s), find(d))
      if (rs != rd) { parent(rs) = rd; true } else false
    }.toSet
    assert(got == want,
      s"forest differs: extra=${got -- want} missing=${want -- got}")
  }

  test("louvain moves: two bridged triangles collapse into two communities") {
    // hand-traced through the exact-integer gain rule with parity
    // alternation (see Iterative.louvainMoves): round 1 odd vertices
    // pair up, round 2 pulls 4 into {5,6}, round 3 pulls 3 into {1,2}
    val we = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L),
      (4L, 5L, 1L), (4L, 6L, 1L), (5L, 6L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "weight")
    val got = Iterative.louvainMoves(we).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L,
      4L -> 6L, 5L -> 6L, 6L -> 6L))
  }

  test("louvain on the co-purchase graph: deterministic, fewer communities than vertices") {
    val we = GraphBuilder.weightedEdges(spark, sf)
    val a = Iterative.louvainMoves(we).as[(Long, Long)].collect().toMap
    val b = Iterative.louvainMoves(we).as[(Long, Long)].collect().toMap
    assert(a == b)
    val nComm = a.values.toSet.size
    assert(nComm > 1 && nComm < a.size, s"got $nComm communities for ${a.size} vertices")
  }

  test("connected components finds both components and isolated vertex") {
    // Gx gives a row only to every vertex with an edge: the isolated
    // vertex 20 is a vertex of the graph but has no component row
    val (csr, pregel) = bothBranches(twoComp, isolated = Seq(20L))(
      Gx.connectedComponents(_).as[(Long, Long)].collect().toMap)
    assert(csr == pregel)
    assert(csr == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1,
      10L -> 10, 11L -> 10, 12L -> 10))
    assert(csr == GraphReplays.components(twoComp))
  }

  test("label propagation labels are vertex ids and separate far components") {
    val (labels, pregel) = bothBranches(twoComp, isolated = Seq(20L))(
      Gx.labelPropagation(_, iters = 3).as[(Long, Long)].collect().toMap)
    assert(labels == pregel)
    // every vertex with an edge has a label; the isolated 20 has none
    val ids = twoComp.flatMap { case (s, d) => Seq(s, d) }.toSet
    assert(labels.keySet == ids)
    assert(labels.values.toSet.subsetOf(ids))
    // triangle and path can never share a label (disconnected)
    assert((Set(10L, 11L, 12L).map(labels) intersect Set(1L, 2L, 3L, 4L).map(labels)).isEmpty)
    assert(labels == GraphReplays.labelPropagation(twoComp, 3))
  }

  test("pagerank sums to ~|V| and ranks hub highest") {
    // star: 1 connected to 2..5
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    val (pr, pregel) = bothBranches(star)(
      Gx.pageRank(_, iters = 20).as[(Long, Double)].collect().toMap)
    assert(pr == pregel)
    assert(math.abs(pr.values.sum - 5.0) < 0.01)
    assert(pr(1L) > pr(2L) && math.abs(pr(2L) - pr(5L)) < 1e-6)
    val want = GraphReplays.pageRank(star, iters = 20)
    pr.foreach { case (id, r) => assert(math.abs(r - want(id)) <= 1e-6, s"vertex $id") }
  }

  test("multi-source BFS distances on path graph") {
    val (d, pregel) = bothBranches(Seq((1L, 2L), (2L, 3L), (3L, 4L)))(
      Gx.multiSourceBfs(_, Seq(1L)).select("v", "dist").as[(Long, Int)].collect().toMap)
    assert(d == pregel)
    assert(d == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("closeness exact on path graph with all-vertex landmarks") {
    val (c, pregel) = bothBranches(Seq((1L, 2L), (2L, 3L)))(g =>
      Iterative.closenessFrom(Gx.multiSourceBfs(g, Seq(1L, 2L, 3L)))
        .as[(Long, Double)].collect().toMap)
    assert(c == pregel)
    // vertex 2: (3-1)/(1+1) = 1.0 ; vertices 1,3: 2/3
    assert(math.abs(c(2L) - 1.0) < 1e-6)
    assert(math.abs(c(1L) - 2.0 / 3) < 1e-6)
  }

  test("diameter estimate exact on path graph") {
    val (d, pregel) = bothBranches(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))(
      Gx.diameterEstimate(_).as[Int].head())
    assert(d == 4 && pregel == 4)
  }

  test("normalizeLabels produces dense 0..k-1") {
    val labels = Seq((1L, 100L), (2L, 100L), (3L, 7L)).toDF("id", "label")
    val norm = Iterative.normalizeLabels(labels)
      .as[(Long, Int)].collect().toMap
    assert(norm == Map(1L -> 1, 2L -> 1, 3L -> 0))
  }
}
