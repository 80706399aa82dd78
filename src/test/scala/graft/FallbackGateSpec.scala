package graft

import org.scalatest.funsuite.AnyFunSuite

/** Forces the >500k-vertex fallback branches — the plans a 100 TB
  * graph would actually run — on REAL data and pins them equal to the
  * broadcast branches (VERDICT r8 "Next #3": these paths had never
  * executed outside toy specs because every test graph broadcasts).
  *
  * `Graph.broadcastVertexGate` is dropped to 0 so the sf0.001
  * co-purchase graph routes through: the square-count WIDE wedge-
  * stream plan (row exchange + pre-partitioned aggregate), the
  * clique4 SHUFFLE-join (no adjacency broadcast), the shuffle-join
  * oriented/intersection pipeline under both, and the no-broadcast
  * triangle-estimate plan, and the GraphX Pregel traversals (multi-
  * source BFS, diameter double sweep, shortest paths, the Brandes
  * sweep, label propagation, connected components), the DataFrame
  * community sample and the oriented triangle stream under the per-
  * vertex triangle counts in place of the broadcast-CSR kernels. Fresh Graph instances
  * per side so the
  * lazy-val caches can't leak plans across gate settings; tests run
  * sequentially in the forked test JVM, so the var flip is safe. */
class FallbackGateSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.graph.{CommunitySample, Graph, GraphBuilder, GraphQueries, Gx,
    GxBetweenness, Iterative}

  // new frames, not just a new Graph: the graph memos (Brandes sweep,
  // communities, components, sample) key on the Graph value, whose
  // equality is its frames' identity
  private def freshGraph(): Graph = {
    val g = GraphBuilder.coPurchase(spark, sf)
    Graph(g.vertices.select("*"), g.edges.select("*"))
  }

  private def withGate[A](gate: Long)(f: => A): A = {
    val old = Graph.broadcastVertexGate
    Graph.broadcastVertexGate = gate
    try f finally Graph.broadcastVertexGate = old
  }

  test("square count: wide wedge-stream plan equals broadcast-merge kernel") {
    val small = withGate(Long.MaxValue) {
      freshGraph().squareCountPlan.head().getLong(0)
    }
    val wide = withGate(0L) {
      freshGraph().squareCountPlan.head().getLong(0)
    }
    assert(small == wide, s"square count diverges: $small vs $wide")
    assert(small > 0L, "degenerate graph: no squares")
  }

  test("clique4: shuffle-join plan equals broadcast plan") {
    val small = withGate(Long.MaxValue) {
      freshGraph().clique4Plan.head().getLong(0)
    }
    val wide = withGate(0L) {
      freshGraph().clique4Plan.head().getLong(0)
    }
    assert(small == wide, s"clique4 diverges: $small vs $wide")
    assert(small > 0L, "degenerate graph: no 4-cliques")
  }

  test("triangle estimate: no-broadcast plan equals broadcast plan") {
    def run() = GraphQueries.triangleEstimateOn(freshGraph(), 4, 42L)
      .collect().map(_.toSeq.toList).toList
    val small = withGate(Long.MaxValue)(run())
    val wide = withGate(0L)(run())
    assert(small == wide, s"estimate diverges: $small vs $wide")
  }

  test("edge common stats: shuffle-join degrees equal broadcast degrees") {
    def run(): Map[(Long, Long), (Long, Double)] =
      freshGraph().edgeCommonStats.collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), math.rint(r.getDouble(3) * 1e9) / 1e9)).toMap
    val small = withGate(Long.MaxValue)(run())
    val wide = withGate(0L)(run())
    assert(small == wide)
    assert(small.nonEmpty)
  }

  test("coreNumbers twin: shuffle-join state branch equals broadcast branch") {
    def run(): Map[Long, Long] =
      graft.graph.Metrics.coreNumbers(freshGraph(), maxIter = 64)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val small = withGate(Long.MaxValue)(run())
    val wide = withGate(0L)(run())
    assert(small == wide, "core numbers diverge between join branches")
    assert(small.values.max > 1L, "degenerate graph: max coreness <= 1")
  }

  private def landmarks(g: Graph): Seq[Long] =
    Iterative.topDegreeLandmarks(g, 8).collect().map(_.getLong(0)).toSeq

  test("betweenness: Pregel sweep equals the CSR kernel exactly") {
    def run(): (Map[Long, Double], Map[(Long, Long), Double]) = {
      val g = freshGraph()
      (GxBetweenness.run(g, numSources = 8).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap,
        GxBetweenness.edgeRun(g, numSources = 8).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap)
    }
    val (smallV, smallE) = withGate(Long.MaxValue)(run())
    val (wideV, wideE) = withGate(0L)(run())
    // bit-identical doubles: both branches sum the same micro-longs
    assert(smallV == wideV, "vertex betweenness diverges between branches")
    assert(smallE == wideE, "edge betweenness diverges between branches")
    assert(smallV.values.exists(_ > 0.0) && smallE.values.exists(_ > 0.0))
  }

  test("multi-source BFS, shortest paths, diameter: Pregel equals CSR") {
    def run() = {
      val g = freshGraph()
      val lm = landmarks(g)
      (Gx.multiSourceBfs(g, lm).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet,
        Gx.shortestPaths(g, lm.take(3)).collect()
          .map(r => r.getLong(0) -> r.getMap[Long, Int](1).toMap).toMap,
        Gx.diameterEstimate(g).head().getInt(0))
    }
    val small = withGate(Long.MaxValue)(run())
    val wide = withGate(0L)(run())
    assert(small._1 == wide._1, "multi-source BFS diverges")
    assert(small._2 == wide._2, "shortest paths diverge")
    assert(small._3 == wide._3, "diameter estimate diverges")
    assert(small._1.map(_._1).size == 8 && small._3 > 1)
  }

  test("communities, components, community sample: GraphX/DataFrame equal CSR") {
    def run(maxCommVertices: Int) = {
      val g = freshGraph()
      (GraphBuilder.communities(spark, g).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap,
        Gx.connectedComponents(g).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap,
        CommunitySample.sample(spark, g, maxCommVertices = maxCommVertices)
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSet)
    }
    val small = withGate(Long.MaxValue)(run(1000000))
    val wide = withGate(0L)(run(1000000))
    assert(small._1 == wide._1, "communities diverge")
    assert(small._2 == wide._2, "components diverge")
    assert(small._3 == wide._3, "community sample diverges")
    assert(small._1.nonEmpty)
    assert(small._2.size == small._1.size, "every vertex with an edge has a component")
    assert(small._3.nonEmpty)
    // a cap below the largest community: the thinning runs on both sides
    val cap = 4
    val largest = small._1.values.groupBy(identity).map(_._2.size).max
    assert(largest > cap, s"no community above the cap: $largest")
    val thinSmall = withGate(Long.MaxValue)(run(cap))._3
    val thinWide = withGate(0L)(run(cap))._3
    assert(thinSmall == thinWide, "thinned community sample diverges")
    // communities above the cap walk only vertices past the hash cut
    val size = small._1.values.groupBy(identity).map { case (k, v) => k -> v.size }
    val thinnedWalks = thinSmall.filter { case (k, _) => size(k) > cap }
    assert(thinnedWalks.nonEmpty)
    assert(thinnedWalks.forall { case (k, v) =>
      graft.graph.Csr.thinKeep(v, size(k), 42L, cap) })
  }

  test("triangles, clustering, census, sample metrics: oriented stream equals CSR") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    def metrics(g: Graph) =
      (rows(g.triangleVertexCounts), rows(g.clusteringCoefficients),
        g.averageClustering.head().getDouble(0), g.transitivity.head().getDouble(0))
    def run() = {
      val g = freshGraph()
      val tri = GraphBuilder.triangles(g)
      // the sample subgraph as the benchmark's sample-metrics pass builds it
      val ids = CommunitySample.sample(spark, g).select("id")
      val sg = Graph(ids, g.inducedSubgraphEdges(ids))
      (rows(tri), tri.schema, metrics(g),
        rows(GraphQueries.graphletCensusOf(g)), metrics(sg))
    }
    val small = withGate(Long.MaxValue)(run())
    val wide = withGate(0L)(run())
    assert(small._1 == wide._1, "triangle table diverges")
    assert(small._2 == wide._2, "triangle table schema diverges")
    assert(small._3 == wide._3, "graph clustering/transitivity diverge")
    assert(small._4 == wide._4, "graphlet census diverges")
    assert(small._5 == wide._5, "sample subgraph metrics diverge")
    assert(small._1.map(_(2).asInstanceOf[Long]).sum > 0L, "no triangle in the graph")
    assert(small._5._1.map(_(2).asInstanceOf[Long]).sum > 0L, "no triangle in the sample")
  }

  test("Pregel branches free their traversal state, keep only outputs") {
    // before: the Pregel result graphs stayed cached for the session —
    // 1 EdgeRDD + 2 VertexRDDs per multi-source BFS, 4 EdgeRDDs + 1
    // VertexRDD per Brandes sweep (getRDDStorageInfo, gate 0)
    val sc = spark.sparkContext
    def added(before: Set[Int]): Seq[String] =
      sc.getPersistentRDDs.toSeq.collect {
        case (id, rdd) if !before(id) => Option(rdd.name).getOrElse("")
      }
    def graphX(names: Seq[String]): Seq[String] =
      names.filter(n => n.startsWith("VertexRDD") || n.startsWith("EdgeRDD"))
    withGate(0L) {
      val g = freshGraph()
      val lm = landmarks(g)
      def persisted() = sc.getPersistentRDDs.keySet.toSet
      val preBase = persisted()
      Gx.of(g)
      val base = persisted() -- preBase
      var before = persisted()
      Gx.multiSourceBfs(g, lm).count()
      val bfs = added(before)
      assert(graphX(bfs).isEmpty, s"BFS left GraphX state: $bfs")
      assert(bfs.size == 1, s"expected the one output table: $bfs")
      before = persisted()
      GxBetweenness.run(g, numSources = 8).count()
      GxBetweenness.edgeRun(g, numSources = 8).count()
      val sweep = added(before)
      assert(graphX(sweep).isEmpty, s"sweep left GraphX state: $sweep")
      assert(sweep.size == 2, s"expected the two output tables: $sweep")
      before = persisted()
      Gx.diameterEstimate(g).head()
      val diam = added(before)
      // at most the landmark-BFS memo's one table; the far sweep is freed
      assert(graphX(diam).isEmpty && diam.size <= 1, s"diameter left: $diam")
      // before: every LPA round left its message graph's EdgeRDD and
      // the last labels VertexRDD cached; CC left its Pregel graph
      before = persisted()
      Gx.labelPropagation(g, 5).count()
      val lpa = added(before)
      assert(graphX(lpa).isEmpty, s"LPA left GraphX state: $lpa")
      assert(lpa.size == 1, s"expected the one label table: $lpa")
      before = persisted()
      Gx.connectedComponents(g).count()
      val cc = added(before)
      assert(graphX(cc).isEmpty, s"CC left GraphX state: $cc")
      assert(cc.size == 1, s"expected the one component table: $cc")
      // the memoized GraphX base is shared and must survive
      assert(base.nonEmpty && base.subsetOf(persisted()),
        "Gx.of(g) base was freed")
    }
    // below the gate the triangle table persists nothing: the counts
    // are a broadcast array and the table a one-partition leaf over it;
    // above it the oriented edge, adjacency and intersection tables sit
    // under the memo
    def triangleTables(gate: Long): Seq[String] = withGate(gate) {
      val g = freshGraph()
      g.degrees
      g.vertexCount
      val before = sc.getPersistentRDDs.keySet.toSet
      GraphBuilder.triangles(g)
      added(before)
    }
    val small = triangleTables(Long.MaxValue)
    assert(small.isEmpty, s"expected no persisted table: $small")
    val wide = triangleTables(0L)
    assert(wide.size == 4, s"expected the oriented tables and the memo: $wide")
  }

  test("degree, triangle and betweenness tables: rows and schemas equal across the gate") {
    val small = withGate(Long.MaxValue)(GraphReplays.perVertexTables(freshGraph()))
    val wide = withGate(0L)(GraphReplays.perVertexTables(freshGraph()))
    assert(small._2 == wide._2, s"schemas diverge: ${small._2} vs ${wide._2}")
    small._1.zip(wide._1).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"table $i diverges")
    }
    val g = freshGraph()
    assert(small._1.head.size == g.vertexCount, "a degree row per vertex")
    assert(small._1(7).size == g.edges.count(), "an edge-betweenness row per edge")
    assert(small._1(2).exists(!_.endsWith(",0]")), "no triangle in the graph")
  }

  test("below the gate: degree, triangle and betweenness tables persist nothing, within a job cap") {
    import org.apache.spark.sql.functions.{max, sum}
    val sc = spark.sparkContext
    withGate(Long.MaxValue) {
      val g = freshGraph()
      g.vertexCount
      val before = sc.getPersistentRDDs.keySet.toSet
      // the id collect, the edge-list collect for the CSR, the action
      val deg = jobsIn("csr-degrees")(g.degrees.agg(sum("degree")).head())
      assert(deg <= 3, s"degrees: $deg jobs")
      // the kernel job, the action; then the action alone
      val tri = jobsIn("csr-triangles")(GraphBuilder.triangles(g).agg(sum("triangles")).head())
      assert(tri <= 2, s"triangles: $tri jobs")
      val again = jobsIn("csr-triangles-again")(g.transitivity.head())
      assert(again == 1, s"transitivity on the memoized counts: $again jobs")
      // the sweep's job and its reduce, then one action per table
      val btw = jobsIn("csr-betweenness") {
        GxBetweenness.run(g, numSources = 8).agg(max("betweenness")).head()
        GxBetweenness.edgeRun(g, numSources = 8).agg(max("edge_betweenness")).head()
      }
      assert(btw <= 4, s"betweenness: $btw jobs")
      val added = sc.getPersistentRDDs.keySet.toSet -- before
      assert(added.isEmpty, s"persisted: $added")
    }
  }
}
