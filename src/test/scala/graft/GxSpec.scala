package graft

import graft.GraphReplays.{adjacency, bfsFrom, bothBranches}
import graft.graph.{Graph, GraphBuilder, Gx, Iterative}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The production graph algorithms ([[Gx]], [[graph.GxBetweenness]]) —
  * the broadcast-CSR kernels below the vertex gate, GraphX/Pregel above
  * it — against driver-side replays written from the edge list
  * ([[GraphReplays]]): union-find components, synchronous LPA with the
  * smallest label on ties, fixed-iteration PageRank and PPR, queue BFS
  * and textbook Brandes from the same md5-ordered sources. The real
  * co-purchase graph runs on the default (CSR) side; the toy graphs run
  * on both sides ([[GraphReplays.bothBranches]]). Seven of the older
  * test names still say "DataFrame": they named the DataFrame
  * implementations these specs were once compared with, whose
  * semantics the replays now state.
  */
class GxSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private lazy val g = GraphBuilder.coPurchase(spark, sf)
  private lazy val edges = g.edges.as[(Long, Long)].collect().toSeq

  test("Gx connected components == DataFrame large/small-star components") {
    val ours = Gx.connectedComponents(g).as[(Long, Long)].collect().toMap
    assert(ours == GraphReplays.components(edges))
  }

  test("weighted pagerank with unit weights == unweighted pagerank") {
    val unit = g.edges.select($"src", $"dst").withColumn("weight", lit(1L))
    val wpr = Gx.weightedPageRank(unit).as[(Long, Double)].collect().toMap
    val pr = Gx.pageRank(g, iters = 10).as[(Long, Double)].collect().toMap
    assert(wpr.keySet == pr.keySet)
    wpr.foreach { case (id, r) =>
      assert(math.abs(r - pr(id)) <= 1e-6, s"vertex $id: $r vs ${pr(id)}")
    }
  }

  test("weighted sssp: two-hop route beats the heavy direct edge") {
    // triangle 1-2 (10), 1-3 (2), 3-2 (3): dist(2) = 5 via 3, not 10;
    // vertex 4 rides a pendant edge; 5-6 is a separate component
    val we = Seq((1L, 2L, 10L), (1L, 3L, 2L), (2L, 3L, 3L), (2L, 4L, 1L),
      (5L, 6L, 7L)).toDF("src", "dst", "weight")
    val got = Gx.weightedSssp(we, source = 1L).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 5L, 3L -> 2L, 4L -> 6L))
  }

  test("weighted sssp with unit weights == hop distances from the landmark") {
    val unit = g.edges.select($"src", $"dst").withColumn("weight", lit(1L))
    val src = Iterative.topDegreeLandmarks(g, 1).collect().head.getLong(0)
    val got = Gx.weightedSssp(unit, src).as[(Long, Long)].collect().toMap
    val bfs = Gx.multiSourceBfs(g, Seq(src))
      .select($"v", $"dist".cast("long")).as[(Long, Long)].collect().toMap
    assert(got == bfs)
  }

  test("weighted pagerank shifts rank toward heavy edges (hand-checked)") {
    // path 1 —(10)— 2 —(1)— 3: from 2, mass flows 10/11 to 1, 1/11 to 3
    val we = Seq((1L, 2L, 10L), (2L, 3L, 1L)).toDF("src", "dst", "weight")
    val got = Gx.weightedPageRank(we).as[(Long, Double)].collect().toMap
    // replay the same fixed-iteration update locally
    var r = Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0)
    for (_ <- 1 to 10) {
      r = Map(
        1L -> (0.15 + 0.85 * r(2L) * 10.0 / 11.0),
        2L -> (0.15 + 0.85 * (r(1L) * 10.0 / 10.0 + r(3L) * 1.0 / 1.0)),
        3L -> (0.15 + 0.85 * r(2L) * 1.0 / 11.0))
    }
    r.foreach { case (id, want) =>
      assert(math.abs(got(id) - want) < 1e-9, s"vertex $id: ${got(id)} vs $want")
    }
    assert(got(1L) > got(3L), "heavy edge must attract more rank")
  }

  test("Gx pagerank == DataFrame pagerank (same fixed-point iteration)") {
    val ours = Gx.pageRank(g, iters = 10).as[(Long, Double)].collect().toMap
    val want = GraphReplays.pageRank(edges, iters = 10)
    assert(ours.keySet == want.keySet)
    // identical math; Gx rounds to 6 decimals and sums in another
    // order, so allow the last digit to wobble
    ours.foreach { case (id, r) =>
      assert(math.abs(r - want(id)) <= 1e-6, s"vertex $id: $r vs ${want(id)}")
    }
  }

  test("pageRank(tol): converges, agrees with a long fixed-iteration run") {
    // tight tol → the convergence-mode ranks must match a fixed run
    // that is certainly past that tolerance (50 iters; 0.85^50 ≈ 3e-4
    // of the initial residual, and empirically max|Δ| < 1e-9 by then)
    val conv = Gx.pageRankTol(g, tol = 1e-8, maxIter = 200)
      .as[(Long, Double)].collect().toMap
    val fixed = Gx.pageRank(g, iters = 50).as[(Long, Double)].collect().toMap
    assert(conv.keySet == fixed.keySet)
    conv.foreach { case (id, r) =>
      assert(math.abs(r - fixed(id)) <= 1e-5, s"vertex $id: $r vs ${fixed(id)}")
    }
    // loose tol stops EARLY: ranks differ from the converged fixpoint
    // by more than the tight-tol run does (proves the loop actually
    // keys off the tolerance rather than running to the cap)
    val loose = Gx.pageRankTol(g, tol = 0.5, maxIter = 200)
      .as[(Long, Double)].collect().toMap
    val errLoose = loose.map { case (id, r) => math.abs(r - fixed(id)) }.max
    val errTight = conv.map { case (id, r) => math.abs(r - fixed(id)) }.max
    assert(errLoose > errTight,
      s"loose tol should stop earlier (errs: $errLoose vs $errTight)")
  }

  test("Gx personalized pagerank == DataFrame ppr") {
    val src = Iterative.topDegreeLandmarks(g, 1).head().getLong(0)
    val ours = Gx.personalizedPageRank(g, src).as[(Long, Double)].collect().toMap
    val want = GraphReplays.pageRank(edges, iters = 10, source = Some(src))
    assert(ours.keySet == want.keySet)
    ours.foreach { case (id, r) =>
      assert(math.abs(r - want(id)) <= 1e-6, s"vertex $id: $r vs ${want(id)}")
    }
  }

  test("Gx multi-source BFS == DataFrame frontier BFS") {
    val landmarks = Iterative.topDegreeLandmarks(g, 4)
      .collect().map(_.getLong(0)).toSeq
    val ours = Gx.multiSourceBfs(g, landmarks)
      .as[(Long, Long, Int)].collect().toSet
    val adj = adjacency(edges)
    val want = landmarks.flatMap(l =>
      bfsFrom(adj, l).map { case (v, d) => (l, v, d) }).toSet
    assert(ours == want)
  }

  test("Gx label propagation == DataFrame LPA (deterministic tie-break)") {
    val ours = Gx.labelPropagation(g, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(ours == GraphReplays.labelPropagation(edges, 5))
  }

  test("exact eccentricities/diameter/closeness == brute-force BFS") {
    // local queue-BFS oracle over the adjacency
    def check(edges: Seq[(Long, Long)], batchSize: Int): Unit = {
      val e = edges.toDF("src", "dst")
      val gg = Graph(GraphBuilder.vertices(e), e)
      val adj = adjacency(edges)
      val ids = adj.keys.toSeq
      val all = ids.map(s => s -> bfsFrom(adj, s)).toMap
      val wantEcc = ids.map(s => s -> all(s).values.max.toLong).toMap
      val gotEcc = Gx.exactEccentricities(gg, batchSize)
        .as[(Long, Long)].collect().toMap
      assert(gotEcc == wantEcc, s"ecc mismatch (batch=$batchSize)")
      val wantDiam = wantEcc.values.max
      assert(Gx.exactDiameter(gg, batchSize).head().getLong(0) == wantDiam)
      val gotClose = Gx.exactCloseness(gg, batchSize)
        .as[(Long, Double)].collect().toMap
      ids.filter(s => all(s).size > 1).foreach { s =>
        val sum = all(s).values.sum
        val want = (all(s).size - 1).toDouble / sum
        assert(math.abs(gotClose(s) - want) < 1e-5,
          s"closeness($s): ${gotClose(s)} vs $want")
      }
    }
    // K4 (ecc all 1), path P5 (ecc 4,3,2,3,4), star (center 1, leaves 2),
    // plus a disconnected pair — batch width 2 exercises the slicing
    check(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)), 2)
    check(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), 2)
    check(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (6L, 7L)), 3)
    // the real sf0.001 co-purchase graph against the same local oracle
    check(edges, 512)
    // and the landmark estimate is a lower bound of the exact diameter
    val est = Gx.diameterEstimate(g).head().getInt(0)
    val exact = {
      val e = edges.toDF("src", "dst")
      val gg = Graph(GraphBuilder.vertices(e), e)
      Gx.exactDiameter(gg).head().getLong(0)
    }
    assert(est <= exact, s"double-sweep $est must lower-bound exact $exact")
  }

  test("Gx diameter estimate == DataFrame double sweep") {
    val ours = Gx.diameterEstimate(g).head().getInt(0)
    // BFS from the max-degree vertex (ties: min id), then from the
    // farthest vertex found (ties: min id); the bound is its eccentricity
    val adj = adjacency(edges)
    val lm = adj.keys.minBy(v => (-adj(v).size, v))
    val far = bfsFrom(adj, lm).toSeq.minBy { case (v, d) => (-d, v) }._1
    assert(ours == bfsFrom(adj, far).values.max)
  }

  test("Gx betweenness == DataFrame Brandes (same seeded uniform sources)") {
    val ours = graph.GxBetweenness.run(g, numSources = 4)
      .as[(Long, Double)].collect().toMap
    val ids = g.vertices.as[Long].collect().toSeq
    val sources = GraphReplays.md5Sources(ids, 4)
    val (want, _) = GraphReplays.brandes(edges, sources,
      scale = ids.size / (2.0 * sources.size))
    assert(ours.keySet == ids.toSet)
    ours.foreach { case (id, b) =>
      val w = want.getOrElse(id, 0.0)
      assert(math.abs(b - w) <= 1e-5, s"vertex $id: $b vs $w")
    }
  }

  test("exact betweenness == brute-force Brandes on asymmetric graphs") {
    // driver-side reference: textbook Brandes, one BFS per source,
    // backward dependency accumulation, undirected pairs counted once
    def brute(edges: Seq[(Long, Long)]): Map[Long, Double] =
      GraphReplays.brandes(edges, adjacency(edges).keys.toSeq)._1
    // kite + tail: no symmetry, mixed degrees — the case sampling gets
    // wrong and exact must not
    val kite = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    // K4 plus pendant: hub vs clique distinction
    val k4p = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L))
    for (edges <- Seq(kite, k4p)) {
      val want = brute(edges)
      // exact, and the estimator with every vertex a source, on both
      // sides of the vertex gate
      val (csr, pregel) = bothBranches(edges) { gr =>
        (graph.GxBetweenness.exact(gr).as[(Long, Double)].collect().toMap,
          graph.GxBetweenness.run(gr, numSources = want.size)
            .as[(Long, Double)].collect().toMap)
      }
      for (((exact, all), side) <- Seq(csr -> "CSR", pregel -> "Pregel")) {
        assert(exact.keySet == want.keySet && all.keySet == want.keySet)
        for ((id, w) <- want) {
          assert(math.abs(exact(id) - w) <= 1e-6, s"$side exact $id: ${exact(id)} vs $w")
          assert(math.abs(all(id) - w) <= 1e-6, s"$side all-source $id: ${all(id)} vs $w")
        }
      }
    }
  }

  test("edge betweenness matches brute-force Brandes edge dependencies") {
    // driver-side reference: per-source edge dependency
    // σv/σw·(1+δw) for tree edges (v,w) of the BFS DAG, pairs halved
    def bruteEdges(edges: Seq[(Long, Long)]): Map[(Long, Long), Double] =
      GraphReplays.brandes(edges, adjacency(edges).keys.toSeq)._2
    // P3 chain (hand: both edges 2.0), star K1,3 (all 3.0), kite+tail
    val p3 = Seq((1L, 2L), (2L, 3L))
    val star = Seq((10L, 1L), (10L, 2L), (10L, 3L))
    val kite = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    for (edges <- Seq(p3, star, kite)) {
      val e = edges.toDF("src", "dst")
      val gr = graph.Graph(graph.GraphBuilder.vertices(e), e)
      val want = bruteEdges(edges)
      val got = graph.GxBetweenness
        .edgeRun(gr, numSources = want.keySet.flatMap(p => Seq(p._1, p._2)).size)
        .as[(Long, Long, Double)].collect()
      got.foreach { case (s, d, b) =>
        val w = want((math.min(s, d), math.max(s, d)))
        assert(math.abs(b - w) <= 1e-6, s"edge ($s,$d): $b vs $w")
      }
    }
    // hand pins (independent of the brute): P3 edges both 2.0
    val e = p3.toDF("src", "dst")
    val gr = graph.Graph(graph.GraphBuilder.vertices(e), e)
    val got = graph.GxBetweenness.edgeRun(gr, numSources = 3)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) == 2.0 && got((2L, 3L)) == 2.0)
  }

  test("betweenness sweep memo: value-keyed, collision-free, survives eviction") {
    // two DISTINCT live graphs must never serve each other's memoized
    // tables (the r9 identityHashCode key could collide); the memo key
    // is the Graph value (frame reference identity), so same-value
    // lookups hit and different graphs always miss
    def mk(edges: Seq[(Long, Long)]): graph.Graph = {
      val e = edges.toDF("src", "dst")
      graph.Graph(graph.GraphBuilder.vertices(e), e)
    }
    val p3 = mk(Seq((1L, 2L), (2L, 3L)))
    val star = mk(Seq((10L, 1L), (10L, 2L), (10L, 3L)))
    val bP3 = graph.GxBetweenness.run(p3, numSources = 3)
      .as[(Long, Double)].collect().toMap
    val bStar = graph.GxBetweenness.run(star, numSources = 4)
      .as[(Long, Double)].collect().toMap
    assert(bP3(2L) == 1.0 && bP3(1L) == 0.0) // middle of the chain
    assert(bStar(10L) == 3.0 && bStar(1L) == 0.0) // the hub
    // same Graph VALUE (same frames): cache hit, identical rows
    val again = graph.GxBetweenness.run(p3, numSources = 3)
      .as[(Long, Double)].collect().toMap
    assert(again == bP3)
    // churn past the LRU cap with fresh graphs, then re-query the
    // first: the evicted entry recomputes to the same answer (and the
    // evicted persisted blocks were freed, not leaked)
    (0 until 9).foreach { i =>
      graph.GxBetweenness.run(
        mk(Seq((100L + i, 200L + i), (200L + i, 300L + i))), numSources = 3)
        .count()
    }
    val after = graph.GxBetweenness.run(mk(Seq((1L, 2L), (2L, 3L))),
      numSources = 3).as[(Long, Double)].collect().toMap
    assert(after == bP3)
  }

  test("svdPlusPlus learns a rating graph: RMSE bounded, factors finite") {
    // bipartite users 1-3 rating items 101-103 in [1,5]; enough signal
    // that 10 gradient sweeps beat the trivial predictor by a wide margin
    val ratings = Seq(
      (1L, 101L, 5.0), (1L, 102L, 4.0), (2L, 101L, 5.0), (2L, 103L, 1.0),
      (3L, 102L, 4.0), (3L, 103L, 1.0))
      .toDF("src", "dst", "rating")
    val (df, rmse) = graft.graph.Gx.svdPlusPlus(ratings, rank = 4, iters = 10)
    val rows = df.as[(Long, Double, Double)].collect()
    assert(rows.length == 6, "one row per user and item vertex")
    assert(rows.forall { case (_, b, n) =>
      !b.isNaN && !n.isNaN && !b.isInfinite && !n.isInfinite })
    // ratings span [1,5] with sd ~1.8; a fitted model must do well
    // under that, and RMSE is definitionally non-negative
    assert(rmse >= 0.0 && rmse < 1.8, s"rmse $rmse")
  }

  test("Gx BFS handles isolated vertex and multiple components") {
    val e = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val tg = Graph(GraphBuilder.vertices(e), e)
    val d = Gx.multiSourceBfs(tg, Seq(1L, 10L))
      .as[(Long, Long, Int)].collect().toSet
    assert(d == Set((1L, 1L, 0), (1L, 2L, 1), (1L, 3L, 2),
      (10L, 10L, 0), (10L, 11L, 1)))
  }

  private def bfsSet(g: Graph, lm: Seq[Long]): Set[(Long, Long, Int)] =
    Gx.multiSourceBfs(g, lm).as[(Long, Long, Int)].collect().toSet

  private def btw(g: Graph, k: Int): Map[Long, Double] =
    graph.GxBetweenness.run(g, numSources = k).as[(Long, Double)].collect().toMap

  private def edgeBtw(g: Graph, k: Int): Seq[(Long, Long, Double)] =
    graph.GxBetweenness.edgeRun(g, numSources = k)
      .as[(Long, Long, Double)].collect().toSeq.sorted

  private def near(got: Map[Long, Double], want: Map[Long, Double]): Boolean =
    got.keySet == want.keySet &&
      want.forall { case (id, w) => math.abs(got(id) - w) <= 1e-6 }

  test("toy graphs: isolated source or landmark, CSR == Pregel") {
    val path = Seq((1L, 2L), (2L, 3L))
    // landmark 4 has no edge and 99 is not a vertex: neither yields a row
    val (a, b) = bothBranches(path, isolated = Seq(4L))(g => bfsSet(g, Seq(4L, 1L, 99L)))
    assert(a == b)
    assert(a == Set((1L, 1L, 0), (1L, 2L, 1), (1L, 3L, 2)))
    // every vertex a source, the isolated one included: it scores 0
    val (bc, bp) = bothBranches(path, isolated = Seq(4L))(btw(_, 4))
    assert(bc == bp)
    assert(near(bc, Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.0, 4L -> 0.0)), s"$bc")
  }

  test("toy graphs: disconnected components, CSR == Pregel") {
    val two = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L))
    val (a, b) = bothBranches(two)(g => bfsSet(g, Seq(1L, 12L)))
    assert(a == b)
    assert(a == Set((1L, 1L, 0), (1L, 2L, 1), (1L, 3L, 2),
      (12L, 12L, 0), (12L, 11L, 1), (12L, 10L, 2)))
    val (bc, bp) = bothBranches(two)(btw(_, 6))
    assert(bc == bp)
    assert(near(bc, Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.0,
      10L -> 0.0, 11L -> 1.0, 12L -> 0.0)), s"$bc")
    val (ec, ep) = bothBranches(two)(edgeBtw(_, 6))
    assert(ec == ep)
    assert(ec.forall(r => math.abs(r._3 - 2.0) <= 1e-6), s"$ec")
  }

  test("toy graphs: duplicate and reversed edges are parallel arcs") {
    // 1–2 three times (twice as given, once reversed), then 2–3–4:
    // every shortest path still runs the chain, split over the arcs
    val multi = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L))
    val (a, b) = bothBranches(multi)(g => bfsSet(g, Seq(1L)))
    assert(a == b && a == Set((1L, 1L, 0), (1L, 2L, 1), (1L, 3L, 2), (1L, 4L, 3)))
    val (bc, bp) = bothBranches(multi)(btw(_, 4))
    assert(bc == bp)
    assert(near(bc, Map(1L -> 0.0, 2L -> 2.0, 3L -> 2.0, 4L -> 0.0)), s"$bc")
    val (ec, ep) = bothBranches(multi)(edgeBtw(_, 4))
    assert(ec == ep, "edge betweenness diverges on parallel arcs")
    // one output row per input edge, each carrying its pair's total
    assert(ec.size == multi.size)
    val byPair = ec.map(r => (r._1, r._2) -> r._3).toMap
    assert(byPair.keySet == Set((1L, 2L), (2L, 3L), (3L, 4L)))
    Seq((1L, 2L) -> 3.0, (2L, 3L) -> 4.0, (3L, 4L) -> 3.0).foreach {
      case (k, w) => assert(math.abs(byPair(k) - w) <= 1e-6, s"$k: ${byPair(k)}")
    }
  }

  test("toy graphs: a self-loop changes no distance or dependency") {
    val loop = Seq((1L, 1L), (1L, 2L), (2L, 3L))
    val (a, b) = bothBranches(loop)(g => bfsSet(g, Seq(1L, 3L)))
    assert(a == b && a == Set((1L, 1L, 0), (1L, 2L, 1), (1L, 3L, 2),
      (3L, 3L, 0), (3L, 2L, 1), (3L, 1L, 2)))
    val (bc, bp) = bothBranches(loop)(btw(_, 3))
    assert(bc == bp)
    assert(near(bc, Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.0)), s"$bc")
    val (ec, ep) = bothBranches(loop)(edgeBtw(_, 3))
    assert(ec == ep)
    assert(ec.find(r => r._1 == 1L && r._2 == 1L).exists(_._3 == 0.0))
  }

  test("toy graphs: numSources > |V| is exact Brandes; no landmarks, no rows") {
    val path = Seq((1L, 2L), (2L, 3L))
    val (bc, bp) = bothBranches(path)(btw(_, 10))
    assert(bc == bp)
    assert(near(bc, Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.0)), s"$bc")
    val (a, b) = bothBranches(path) { g =>
      val d = Gx.multiSourceBfs(g, Nil)
      (d.schema.fieldNames.toSeq, d.count(),
        Gx.shortestPaths(g, Nil).as[(Long, Map[Long, Int])].collect().toMap)
    }
    assert(a == b)
    assert(a._1 == Seq("landmark", "v", "dist") && a._2 == 0L)
    assert(a._3 == Map(1L -> Map.empty, 2L -> Map.empty, 3L -> Map.empty))
  }

  /** Raw LPA labels, normalized communities, components, the
    * community sample (default cap and `cap`) and every schema. */
  private final case class Communities(
      labels: Map[Long, Long], comms: Map[Long, Int], comps: Map[Long, Long],
      sample: Set[(Int, Long)], thinned: Set[(Int, Long)],
      schemas: Seq[Seq[(String, String, Boolean)]])

  private def communitiesOf(g: Graph, cap: Int = 1000000): Communities = {
    val l = Gx.labelPropagation(g, 5)
    val c = GraphBuilder.communities(spark, g)
    val cc = Gx.connectedComponents(g)
    val s = graph.CommunitySample.sample(spark, g, seed = 7L)
    val t = graph.CommunitySample.sample(spark, g, seed = 7L, maxCommVertices = cap)
    Communities(l.as[(Long, Long)].collect().toMap,
      c.as[(Long, Int)].collect().toMap,
      cc.as[(Long, Long)].collect().toMap,
      s.as[(Int, Long)].collect().toSet, t.as[(Int, Long)].collect().toSet,
      Seq(l, c, cc, s, t).map(_.schema.fields.toSeq
        .map(f => (f.name, f.dataType.simpleString, f.nullable))))
  }

  test("toy graphs: LPA, components, sample with isolated vertices, CSR == GraphX") {
    // a path oscillates: after 5 rounds the ends carry 2, the middle 1;
    // both communities are intra-edgeless, so nothing is walked
    val (a, b) = bothBranches(Seq((1L, 2L), (2L, 3L)), isolated = Seq(4L, 5L))(
      communitiesOf(_))
    assert(a == b)
    assert(a.labels == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
    assert(a.comms == Map(1L -> 1, 2L -> 0, 3L -> 1))
    assert(a.comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(a.sample.isEmpty && a.thinned.isEmpty)
  }

  test("toy graphs: LPA, components, sample over disconnected components") {
    val two = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
    val (a, b) = bothBranches(two)(communitiesOf(_))
    assert(a == b)
    assert(a.labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 21L, 21L -> 20L))
    assert(a.comms == Map(1L -> 0, 2L -> 0, 3L -> 0,
      10L -> 1, 11L -> 1, 12L -> 1, 20L -> 3, 21L -> 2))
    assert(a.comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // triangles: avg_cc 1, walk_len 3/(1+2)+1 = 2, two distinct vertices
    // each; the singleton communities 2 and 3 have no intra edge
    assert(a.sample.groupBy(_._1).map { case (k, v) => k -> v.size } ==
      Map(0 -> 2, 1 -> 2))
    assert(a.sample.forall { case (k, v) => a.comms(v) == k })
  }

  test("toy graphs: LPA, components, sample over parallel and reversed edges") {
    val multi = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L),
      (1L, 3L), (4L, 5L), (5L, 4L), (3L, 5L))
    val (a, b) = bothBranches(multi)(communitiesOf(_, cap = 2))
    assert(a == b)
    assert(a.comps.values.toSet == Set(1L) && a.comps.size == 5)
    assert(a.sample.nonEmpty)
  }

  test("toy graphs: LPA, components, sample with self-loops") {
    val loops = Seq((1L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 3L),
      (4L, 5L), (5L, 5L), (6L, 6L))
    val (a, b) = bothBranches(loops)(communitiesOf(_, cap = 1))
    assert(a == b)
    // a vertex with only a self-loop votes for itself
    assert(a.labels(6L) == 6L && a.comps(6L) == 6L)
    assert(a.comps(5L) == 4L && a.comps(3L) == 1L)
    assert(a.sample.nonEmpty)
  }

  test("toy graphs: LPA ties break to the smallest label on both branches") {
    // a 4-cycle: every vote ties 1:1 and the smaller label wins, so the
    // labelling alternates; K4 + tail: the clique settles on its min id
    val ties = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L),
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L),
      (13L, 14L))
    val (a, b) = bothBranches(ties)(communitiesOf(_, cap = 3))
    assert(a == b)
    assert(Seq(1L, 2L, 3L, 4L).map(a.labels) == Seq(2L, 1L, 2L, 1L))
    assert(Seq(10L, 11L, 12L, 13L, 14L).map(a.labels).toSet == Set(10L))
    // the cycle's two communities {1,3} and {2,4} hold no intra edge
    assert(a.sample.map(_._2).subsetOf(Set(10L, 11L, 12L, 13L, 14L)))
    assert(a.sample.nonEmpty)
  }

  test("toy graphs: singleton communities with no intra edge walk nothing") {
    // one edge: the two ends swap labels every round
    val (a, b) = bothBranches(Seq((1L, 2L)))(communitiesOf(_))
    assert(a == b)
    assert(a.labels == Map(1L -> 2L, 2L -> 1L))
    assert(a.comms == Map(1L -> 1, 2L -> 0))
    assert(a.sample.isEmpty)
  }

  test("toy graphs: an empty edge set gives empty frames, same schemas") {
    val (a, b) = bothBranches(Nil, isolated = Seq(1L, 2L))(communitiesOf(_))
    assert(a == b)
    assert(a.labels.isEmpty && a.comms.isEmpty && a.comps.isEmpty && a.sample.isEmpty)
    assert(a.schemas.map(_.map(_._1)) == Seq(Seq("id", "label"),
      Seq("id", "community"), Seq("id", "component"),
      Seq("community", "id"), Seq("community", "id")))
  }

  test("toy graphs: a giant community thins identically on both branches") {
    val ids = 1L to 16L
    val clique = for { x <- ids; y <- ids if x < y } yield (x, y)
    val (a, b) = bothBranches(clique)(communitiesOf(_, cap = 5))
    assert(a == b)
    assert(a.comms.values.toSet == Set(0))
    // only vertices that pass Spark's xxhash64 cut are walked
    assert(a.thinned.nonEmpty)
    assert(a.thinned.forall { case (_, v) => graph.Csr.thinKeep(v, 16, 7L, 5) })
    assert(!ids.forall(graph.Csr.thinKeep(_, 16, 7L, 5)))
  }

  /** The memoized triangle table (id, degree, triangles), the direct
    * per-vertex counts, clustering coefficients, average clustering
    * and both schemas. */
  private final case class Triangles(
      rows: Set[(Long, Long, Long)], direct: Set[(Long, Long, Long)],
      cc: Map[Long, Double], avgCc: Option[Double],
      schemas: Seq[Seq[(String, String, Boolean)]])

  private def trianglesOf(g: Graph): Triangles = {
    val memo = GraphBuilder.triangles(g)
    val direct = g.triangleVertexCounts
    Triangles(memo.as[(Long, Long, Long)].collect().toSet,
      direct.as[(Long, Long, Long)].collect().toSet,
      g.clusteringCoefficients.select("id", "clustering_coeff")
        .as[(Long, Double)].collect().toMap,
      Option(g.averageClustering.head().get(0)).map(_.asInstanceOf[Double]),
      Seq(memo, direct).map(_.schema.fields.toSeq
        .map(f => (f.name, f.dataType.simpleString, f.nullable))))
  }

  private def transitivityOf(g: Graph): Double = g.transitivity.as[Double].head()

  test("toy graphs: triangles of K4 plus isolated vertices, CSR == oriented stream") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val (a, b) = bothBranches(k4, isolated = Seq(8L, 9L))(trianglesOf)
    assert(a == b)
    assert(a.rows == Set((1L, 3L, 3L), (2L, 3L, 3L), (3L, 3L, 3L), (4L, 4L, 3L),
      (5L, 1L, 0L), (8L, 0L, 0L), (9L, 0L, 0L)))
    assert(a.direct == a.rows)
    assert(a.cc == Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 0.5,
      5L -> 0.0, 8L -> 0.0, 9L -> 0.0))
    assert(a.avgCc == Some(0.5))
    // 4 triangles over 3+3+3+6 wedges
    val (t, u) = bothBranches(k4, isolated = Seq(8L, 9L))(transitivityOf)
    assert(t == u && t == 0.8)
  }

  test("toy graphs: triangles over parallel and reversed edges, CSR == oriented stream") {
    // the 1–2 edge twice (once reversed) is the triangle's lowest
    // oriented edge, so each of its copies credits 1, 2 and 3 once
    val multi = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L), (3L, 6L))
    val (a, b) = bothBranches(multi)(trianglesOf)
    assert(a == b)
    assert(a.rows == Set((1L, 3L, 2L), (2L, 3L, 2L), (3L, 5L, 2L),
      (4L, 1L, 0L), (5L, 1L, 0L), (6L, 1L, 0L)))
    val (t, u) = bothBranches(multi)(transitivityOf)
    assert(t == u)
  }

  test("toy graphs: triangles with a self-loop, CSR == oriented stream") {
    // the loop (1, 1) is an oriented edge of its own and 1 joins its
    // own out-set, so its rows credit vertex 1 beyond the one triangle
    val loop = Seq((1L, 1L), (1L, 2L), (2L, 3L), (1L, 3L))
    val (a, b) = bothBranches(loop)(trianglesOf)
    assert(a == b)
    assert(a.rows == Set((1L, 4L, 8L), (2L, 2L, 2L), (3L, 2L, 2L)))
    val (t, u) = bothBranches(loop)(transitivityOf)
    assert(t == u)
  }

  test("toy graphs: triangles of an empty edge set, CSR == oriented stream") {
    val (a, b) = bothBranches(Nil, isolated = Seq(1L, 2L))(trianglesOf)
    assert(a == b)
    assert(a.rows == Set((1L, 0L, 0L), (2L, 0L, 0L)) && a.avgCc == Some(0.0))
    // no vertex at all: empty frames with the usual schema
    val (c, d) = bothBranches(Nil)(trianglesOf)
    assert(c == d)
    assert(c.rows.isEmpty && c.direct.isEmpty && c.cc.isEmpty && c.avgCc.isEmpty)
    assert(c.schemas.map(_.map(_._1)) == Seq.fill(2)(Seq("id", "degree", "triangles")))
  }

  test("triangle counts: one CSR kernel job per graph serves every consumer") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val g = Graph(GraphBuilder.vertices(e), e)
    g.vertexCount
    g.degrees
    g.csr
    assert(jobsIn("tri-first")(g.triangleVertexCounts) == 1)
    assert(jobsIn("tri-again") {
      g.triangleVertexCounts
      g.clusteringCoefficients
      g.averageClustering
      g.transitivity
    } == 0)
    assert(g.transitivity.as[Double].head() == 0.6)
  }

  /** Degree, triangle and betweenness tables on both sides of the gate:
    * rows and schemas equal; returns the CSR side's row strings. */
  private def sameTables(edges: Seq[(Long, Long)], isolated: Seq[Long] = Nil,
                         vertices: Option[Seq[Long]] = None): Seq[Seq[String]] = {
    val (a, b) = bothBranches(edges, isolated, vertices)(GraphReplays.perVertexTables(_, 3))
    assert(a._2 == b._2, s"schemas diverge: ${a._2} vs ${b._2}")
    a._1.zip(b._1).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"table $i diverges: $x vs $y")
    }
    a._1
  }

  test("toy graphs: degree, triangle and betweenness tables with isolated vertices") {
    val t = sameTables(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)), isolated = Seq(8L, 9L))
    assert(t.head == Seq("[1,2]", "[2,2]", "[3,3]", "[4,1]", "[8,0]", "[9,0]"))
    assert(t(2) == Seq("[1,2,1]", "[2,2,1]", "[3,3,1]", "[4,1,0]", "[8,0,0]", "[9,0,0]"))
  }

  test("toy graphs: degree, triangle and betweenness tables over parallel and reversed edges") {
    val t = sameTables(Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
    assert(t.head == Seq("[1,4]", "[2,4]", "[3,3]", "[4,1]"))
    // one edge-table row per edge row, canonical (lo, hi)
    assert(t(7).size == 6 && t(7).count(_.startsWith("[1,2,")) == 3)
  }

  test("toy graphs: degree, triangle and betweenness tables with self-loops") {
    val t = sameTables(Seq((1L, 1L), (1L, 2L), (2L, 3L), (1L, 3L), (3L, 3L), (3L, 3L)))
    assert(t.head == Seq("[1,4]", "[2,2]", "[3,6]"))
    assert(t(7).count(_.startsWith("[3,3,")) == 2)
  }

  test("toy graphs: an edge endpoint outside the vertex table counts for the other end only") {
    // the triangle 1-2-3 with 3 no vertex: the oriented stream drops the
    // edges to 3, and the CSR kernel masks 3 out
    val t = sameTables(Seq((1L, 2L), (2L, 3L), (1L, 3L)), vertices = Some(Seq(1L, 2L)))
    assert(t.head == Seq("[1,2]", "[2,2]"))
    assert(t(2) == Seq("[1,2,0]", "[2,2,0]"))
    assert(t(7).size == 3)
  }

  test("toy graphs: degree, triangle and betweenness tables of an empty edge set") {
    val t = sameTables(Nil, isolated = Seq(1L, 2L))
    assert(t.head == Seq("[1,0]", "[2,0]") && t(7).isEmpty)
    // no vertex at all: empty tables, same schemas
    assert(sameTables(Nil).take(3).forall(_.isEmpty))
  }

  test("toy graphs: degree, triangle and betweenness tables with negative ids") {
    val t = sameTables(Seq((-5L, 3L), (3L, -7L), (-7L, -5L), (-7L, 0L)), isolated = Seq(-100L))
    assert(t.head == Seq("[-100,0]", "[-5,2]", "[-7,3]", "[0,1]", "[3,2]"))
    assert(t(2).count(_.endsWith(",1]")) == 3)
  }

  test("betweenness sources: the driver-side md5 pick equals Spark's orderBy") {
    val ids = g.vertices.as[Long].collect() ++
      Array(-1L, -42L, 0L, 7L, 7L, Long.MinValue, Long.MaxValue)
    for (seed <- Seq(42L, 1L, -3L); k <- Seq(0, 1, 8, ids.length + 1)) {
      val want = ids.toSeq.toDF("id")
        .orderBy(md5(concat_ws(":", $"id", lit(seed))), $"id")
        .limit(k).as[Long].collect().toSeq
      assert(graph.GxBetweenness.md5Sources(ids, k, seed) == want, s"seed $seed, k $k")
    }
  }

  test("neighbor features match a local replay in exact cents") {
    val prices = graft.Tables(spark, sf).part
      .select("p_partkey", "p_retailprice").as[(Long, Double)]
      .collect().toMap
    val edges = g.edges.as[(Long, Long)].collect()
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2) }
    val got = graph.GraphQueries.neighborFeatures(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.keySet == nbrs.keySet)
    for ((v, ns) <- nbrs) {
      val cents = ns.map(u => math.round(prices(u) * 100)).sum
      val want = BigDecimal(cents / (ns.size * 100.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(v)._1 == ns.size && got(v)._2 == want &&
        got(v)._3 == ns.map(prices).max, s"vertex $v")
    }
  }

  test("distance histogram sums to the landmark-BFS pair count") {
    val bfs = graph.GraphBuilder.landmarkBfs(g, 8)
    val hist = graph.GraphQueries.distanceHistogram(spark, sf)
      .as[(Int, Long)].collect()
    assert(hist.map(_._2).sum == bfs.count())
    // 8 landmarks at distance 0 from themselves
    assert(hist.toMap.getOrElse(0, 0L) == 8L)
  }

  test("effective diameter is consistent with the ANF table") {
    val a = graph.GraphQueries.anf(spark, sf)
      .select("t", "mask_total").as[(Int, Long)].collect().toMap
    val fin = a.values.max
    val want = a.filter { case (_, m) => m.toDouble >= 0.9 * fin }
      .keys.min
    val r = graph.GraphQueries.effectiveDiameter(spark, sf).head()
    assert(r.getInt(0) == want && r.getLong(1) == fin)
    // monotone: reach never shrinks with t
    (0 until 8).foreach(t => assert(a(t) <= a(t + 1)))
  }

  test("temporal link eval: counts consistent, precision matches hits/k") {
    val r = graph.GraphQueries.linkTemporalEval(spark, sf).head()
    val (k, nc, nl, hits) =
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(k == 50 && nc >= 0 && nl >= 0)
    assert(hits >= 0 && hits <= math.min(k.toLong, nl))
    assert(r.getDouble(4) == BigDecimal(hits / 50.0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val base = r.getDouble(5)
    assert(base >= 0.0 && base <= 1.0)
  }

  test("NMI: 1 on identical labelings, relabel-invariant, 0 on constant") {
    import org.apache.spark.sql.functions.col
    def lab(pairs: (Long, Long)*) = pairs.toDF("id", "community")
    val x = lab(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 2L, 6L -> 2L)
    def nmi(a: org.apache.spark.sql.DataFrame,
            b: org.apache.spark.sql.DataFrame): Double =
      graph.GraphQueries.nmiOf(spark,
        a.select(col("id"), col("community").as("a")),
        b.select(col("id"), col("community").as("b")))
        .head().getDouble(4)
    assert(nmi(x, x) == 1.0)
    // bijective relabeling changes nothing
    val y = lab(1L -> 7L, 2L -> 7L, 3L -> 5L, 4L -> 5L, 5L -> 9L, 6L -> 9L)
    assert(nmi(x, y) == 1.0)
    // a constant labeling carries no information: defined 0
    val c = lab((1L to 6L).map(_ -> 0L): _*)
    assert(nmi(x, c) == 0.0)
    // refining one cluster keeps NMI strictly between 0 and 1
    val r = lab(1L -> 0L, 2L -> 3L, 3L -> 1L, 4L -> 1L, 5L -> 2L, 6L -> 2L)
    val v = nmi(x, r)
    assert(v > 0.5 && v < 1.0, s"refinement NMI $v")
  }

  test("powerlaw alpha and clustering-null match local replays") {
    val degs = g.degrees.select("degree").as[Long].collect()
    val tail = degs.filter(_ >= 5)
    val s = tail.map(k => math.round(math.log(k / 4.5) * 1e6)).sum
    val wantAlpha = BigDecimal(1.0 + tail.length * 1e6 / s)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val gotA = graph.GraphQueries.powerlawAlpha(spark, sf).head()
    assert(gotA.getInt(0) == 5 && gotA.getLong(1) == tail.length)
    assert(gotA.getDouble(2) == wantAlpha)

    val n = degs.length.toDouble
    val m1 = degs.sum / n
    val m2 = degs.map(k => k * k).sum / n
    val nullcc = (m2 - m1) * (m2 - m1) / (n * m1 * m1 * m1)
    val gotC = graph.GraphQueries.clusteringVsNull(spark, sf).head()
    val obs = g.averageClustering(graph.GraphBuilder.triangles(g))
      .head().getDouble(0)
    assert(gotC.getDouble(0) == obs)
    assert(math.abs(gotC.getDouble(1) - nullcc) < 1e-6)
    assert(math.abs(gotC.getDouble(2) - obs / nullcc) < 1e-5)
  }

  test("densification exponent matches a local ln-regression replay") {
    val r = graph.GraphQueries.densification(spark, sf).head()
    val (n, fv, fe) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n > 0 && fv > 0 && fe > 0)
    // replay: rebuild the monthly cumulative curve from raw tables
    val li = graft.Tables(spark, sf).lineitem
      .select("l_orderkey", "l_partkey")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val om = graft.Tables(spark, sf).orders
      .select(col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).cast("long").as("m"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    val byOrder = li.groupBy(_._1)
    val fs = collection.mutable.Map.empty[(Long, Long), Long]
    for ((o, rows) <- byOrder; a <- rows.map(_._2); b <- rows.map(_._2)
         if a < b) {
      val k = (a, b)
      fs(k) = fs.get(k).map(math.min(_, om(o))).getOrElse(om(o))
    }
    val vf = fs.toSeq.flatMap { case ((a, b), m) => Seq(a -> m, b -> m) }
      .groupBy(_._1).map { case (_, ms) => ms.map(_._2).min }
    val months = fs.values.toSeq.distinct.sorted
    val xs = months.map { m =>
      val vc = vf.count(_ <= m).toLong
      val ec = fs.values.count(_ <= m).toLong
      (math.round(math.log(vc.toDouble) * 1e6),
        math.round(math.log(ec.toDouble) * 1e6))
    }
    val nn = xs.length.toLong
    val sx = xs.map(_._1).sum; val sy = xs.map(_._2).sum
    val sxy = xs.map(p => p._1 * p._2).sum
    val sxx = xs.map(p => p._1 * p._1).sum
    val want = BigDecimal((nn * sxy - sx * sy).toDouble /
      (nn * sxx - sx * sx))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(n == nn && fe == fs.size)
    assert(r.getDouble(3) == want, s"${r.getDouble(3)} vs $want")
  }

  test("influence cascade == local simulation with the same coin") {
    def coin(u: Long, v: Long, t: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ic:$u:$v:$t".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString.take(7)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    val adj = adjacency(edges)
    val degs = adj.map { case (k, vs) => k -> vs.size }
    val seeds = degs.toSeq.sortBy { case (id, d) => (-d, id) }
      .take(4).map(_._1)
    var infected = seeds.toSet
    var frontier = seeds.toSet
    val want = collection.mutable.ArrayBuffer((0, seeds.size.toLong))
    for (t <- 1 to 6) {
      val newly = frontier.flatMap(u =>
        adj(u).filter(v => coin(u, v, t) < 20)) -- infected
      want += ((t, newly.size.toLong))
      infected ++= newly; frontier = newly
    }
    val got = graph.GraphQueries.influenceCascade(spark, sf)
      .select("round", "newly_activated").as[(Int, Long)].collect().toSeq
    assert(got.sortBy(_._1) == want.toSeq, s"$got vs $want")
  }

  test("seed comparison == paired local simulations (hub and random)") {
    def coin(u: Long, v: Long, t: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ic:$u:$v:$t".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString.take(7)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    val adj = adjacency(edges)
    val degs = adj.map { case (k, vs) => k -> vs.size }
    val hubSeeds = degs.toSeq.sortBy { case (id, d) => (-d, id) }
      .take(4).map(_._1)
    val rndSeeds = degs.keys.toSeq
      .sortBy(id => (GraphReplays.md5Hex(s"seed:$id"), id)).take(4)
    def simulate(seeds: Seq[Long]): Long = {
      var infected = seeds.toSet
      var frontier = seeds.toSet
      for (t <- 1 to 6) {
        val newly = frontier.flatMap(u =>
          adj(u).filter(v => coin(u, v, t) < 2)) -- infected
        infected ++= newly; frontier = newly
      }
      infected.size.toLong
    }
    val got = graph.GraphQueries.seedComparison(spark, sf)
      .as[(String, Long)].collect().toMap
    assert(got == Map("hub" -> simulate(hubSeeds),
      "random" -> simulate(rndSeeds)), s"$got")
  }

  test("attack robustness == local replay; attack beats random failure") {
    val edges = g.edges.as[(Long, Long)].collect().toSeq
    val degs = (edges.map(_._1) ++ edges.map(_._2)).groupBy(identity)
      .map { case (k, vs) => k -> vs.size }
    val nv = degs.size.toLong
    val got = graph.GraphQueries.attackRobustness(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val want = Seq(1, 5, 10).map { pct =>
      val nRemove = (nv * pct / 100).toInt
      val removed = degs.toSeq.sortBy { case (id, d) => (-d, id) }
        .take(nRemove).map(_._1).toSet
      val keptV = degs.keySet -- removed
      val kept = edges.filter { case (s, d) =>
        !removed(s) && !removed(d) }
      val comps = GraphReplays.components(kept, keptV).groupBy(_._2)
      (pct, keptV.size.toLong, comps.size.toLong,
        if (comps.isEmpty) 1L else comps.values.map(_.size).max.toLong)
    }
    assert(got == want, s"$got vs $want")
  }

  test("percolation rows == local union-find replay with the same coin") {
    def coin(src: Long, dst: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"perc:$src:$dst".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString.take(7)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    val edges = g.edges.as[(Long, Long)].collect().toSeq
    val allVs = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val got = graph.GraphQueries.percolation(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val want = Seq(25, 50, 75).map { p =>
      val kept = edges.filter { case (s, d) => coin(s, d) < p }
      val comps = GraphReplays.components(kept, allVs).groupBy(_._2)
      (p, kept.size.toLong, comps.size.toLong,
        comps.values.map(_.size).max.toLong)
    }
    assert(got == want, s"$got vs $want")
  }

  test("ANF sketch == OR-over-t-ball local replay (toys + real graph)") {
    // the invariant the distributed fixpoint must satisfy: after t
    // rounds, sketch j of v is the OR of the INIT masks of every u
    // with d(u,v) <= t — so replaying balls via local BFS pins the
    // whole iteration exactly, not just statistically
    def initMask(j: Int, id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(s"anf:$j:$id".getBytes("UTF-8"))
      val h = ((d(0) & 0xFFL) << 20) | ((d(1) & 0xFFL) << 12) |
        ((d(2) & 0xFFL) << 4) | ((d(3) & 0xFFL) >>> 4)
      if (h == 0L) 1 << 28 else (h & -h).toInt
    }
    def check(edges: Seq[(Long, Long)], rounds: Int): Unit = {
      val e = edges.toDF("src", "dst")
      val gg = Graph(GraphBuilder.vertices(e), e)
      val adj = (edges ++ edges.map(_.swap)).distinct.groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2) }
      val ids = adj.keys.toSeq
      def ball(s: Long, t: Int): Set[Long] = {
        var cur = Set(s); var frontier = Set(s); var d = 0
        while (d < t && frontier.nonEmpty) {
          frontier = frontier.flatMap(u => adj.getOrElse(u, Nil)) -- cur
          cur ++= frontier; d += 1
        }
        cur
      }
      val want = (0 to rounds).map { t =>
        t -> ids.map { v =>
          val b = ball(v, t)
          (0 until 8).map { j =>
            val m = b.map(u => initMask(j, u)).reduce(_ | _)
            ((m + 1) & ~m).toLong
          }.sum
        }.sum
      }.toMap
      val got = Gx.anf(gg, rounds).select("t", "mask_total")
        .as[(Int, Long)].collect().toMap
      assert(got == want, s"anf mismatch: $got vs $want")
    }
    // path P5 (balls grow one hop per round) + a disconnected pair
    check(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L)), 5)
    // star: saturates in 2 rounds; extra rounds must be no-ops
    check(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)), 4)
    // the real sf0.001 co-purchase graph
    check(g.edges.as[(Long, Long)].collect().toSeq, 4)
  }
}
