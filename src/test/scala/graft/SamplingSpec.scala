package graft

import graft.GraphReplays.bothBranches
import graft.graph.{CommunitySample, Graph, GraphBuilder, GraphQueries, GxBetweenness}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SamplingSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("betweenness exact on path graph (sources = all vertices)") {
    val (bc, pregel) = bothBranches(Seq((1L, 2L), (2L, 3L), (3L, 4L)))(
      GxBetweenness.run(_, numSources = 4).as[(Long, Double)].collect().toMap)
    assert(bc == pregel)
    // path 1-2-3-4: bc(2)=bc(3)=2 pairs through each; ends 0
    assert(bc(1L) == 0.0 && bc(4L) == 0.0)
    assert(bc(2L) == 2.0 && bc(3L) == 2.0)
  }

  test("betweenness exact on star graph") {
    val (bc, pregel) = bothBranches(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))(
      GxBetweenness.run(_, numSources = 5).as[(Long, Double)].collect().toMap)
    assert(bc == pregel)
    assert(bc(1L) == 6.0) // C(4,2) pairs all route through hub
    assert(bc(2L) == 0.0)
  }

  test("community sample is deterministic, nonempty, within communities") {
    val g = GraphBuilder.coPurchase(spark, sf)
    val s1 = CommunitySample.sample(spark, g, seed = 42L)
      .as[(Int, Long)].collect().toSet
    val s2 = CommunitySample.sample(spark, g, seed = 42L)
      .as[(Int, Long)].collect().toSet
    assert(s1 == s2, "same seed must give same sample")
    assert(s1.nonEmpty)
    val vertexIds = g.vertices.as[Long].collect().toSet
    assert(s1.map(_._2).subsetOf(vertexIds))
  }

  test("intra-community cc from the filtered triangle stream == subgraph pipeline") {
    val g = GraphBuilder.coPurchase(spark, sf)
    val comms = GraphBuilder.communities(spark, g)
    val cSrc = comms.select(col("id").as("src"), col("community").as("c1"))
    val cDst = comms.select(col("id").as("dst"), col("community").as("c2"))
    val intra = g.edges.join(cSrc, "src").join(cDst, "dst")
      .filter(col("c1") === col("c2")).select("src", "dst")
    // independent derivation: full triangle pipeline on the subgraph
    val sub = Graph(comms.select("id"), intra)
    val expected = sub.clusteringCoefficients
      .select("id", "clustering_coeff").as[(Long, Double)].collect().toMap
    // production derivation: filter the global persisted stream
    val triIntra = g.triangleEnumeration
      .join(comms.select(col("id").as("lo"), col("community").as("k1")), "lo")
      .join(comms.select(col("id").as("hi"), col("community").as("k2")), "hi")
      .join(comms.select(col("id").as("w"), col("community").as("k3")), "w")
      .filter(col("k1") === col("k2") && col("k2") === col("k3"))
    val triPerVertex = triIntra.select(col("lo").as("id"))
      .union(triIntra.select(col("hi").as("id")))
      .union(triIntra.select(col("w").as("id")))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    val intraDeg = intra.select(col("src").as("id"))
      .union(intra.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val actual = comms.select("id")
      .join(intraDeg, Seq("id"), "left").na.fill(0L, Seq("degree"))
      .join(triPerVertex, Seq("id"), "left").na.fill(0L, Seq("triangles"))
      .select(col("id"),
        when(col("degree") >= 2,
          lit(2.0) * col("triangles") / (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)).as("clustering_coeff"))
      .as[(Long, Double)].collect().toMap
    assert(actual.keySet == expected.keySet)
    actual.foreach { case (id, v) =>
      assert(math.abs(v - expected(id)) < 1e-12, s"vertex $id: $v vs ${expected(id)}")
    }
  }

  test("giant-community guard bounds the walked adjacency and stays deterministic") {
    // a 40-clique is one LPA community; cap=12 forces the guard: the
    // walk must complete on the hash-thinned closed subgraph, emit only
    // clique vertices, visit no more than the retained set, and stay
    // seed-deterministic. cap=1M (default) leaves the sample unguarded.
    val ids = (1L to 40L)
    val e = (for { a <- ids; b <- ids if a < b } yield (a, b))
      .toDF("src", "dst")
    val g = Graph(GraphBuilder.vertices(e), e)
    val guarded = CommunitySample.sample(spark, g, seed = 11L,
      maxCommVertices = 12).as[(Int, Long)].collect().toSet
    val again = CommunitySample.sample(spark, g, seed = 11L,
      maxCommVertices = 12).as[(Int, Long)].collect().toSet
    assert(guarded == again)
    assert(guarded.nonEmpty)
    assert(guarded.map(_._2).subsetOf(ids.toSet))
    // keep-probability 12/40 over 40 vertices: retained set is well
    // under the full community (binomially ~12, hard-bounded by 40;
    // the walk can only visit retained vertices)
    assert(guarded.size < 40, s"guard did not thin: ${guarded.size}")
  }

  test("walk length formula caps sample size per community") {
    // one community (triangle + tail): walk_len = n/(1+2cc)+1 <= n+1
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val g = Graph(GraphBuilder.vertices(e), e)
    val s = CommunitySample.sample(spark, g, alpha = 2.0, lpaIters = 2, seed = 7L)
    assert(s.count() <= 4)
    assert(s.count() >= 1)
  }

  test("walk corpus: every consecutive pair is a real edge, walks deterministic") {
    val w = GraphQueries.walkCorpus(spark, sf, steps = 4, stride = 10L).cache()
    val rows = w.as[(Long, Int, Long)].collect()
    assert(rows.nonEmpty)
    // every walk has steps 0..4 and starts at its walk_id
    val byWalk = rows.groupBy(_._1)
    byWalk.foreach { case (wid, steps) =>
      assert(steps.map(_._2).sorted.toSeq == (0 to 4))
      assert(steps.minBy(_._2)._3 == wid, s"walk $wid must start at itself")
    }
    // consecutive positions are joined by an edge of the graph
    val edges = GraphBuilder.coPurchase(spark, sf).edges
      .as[(Long, Long)].collect()
      .flatMap { case (s, d) => Seq((s, d), (d, s)) }.toSet
    byWalk.values.foreach { steps =>
      steps.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(edges.contains((a._3, b._3)),
          s"${a._3} -> ${b._3} is not an edge")
        case _ =>
      }
    }
    // determinism: identical second run
    val again = GraphQueries.walkCorpus(spark, sf, steps = 4, stride = 10L)
      .as[(Long, Int, Long)].collect()
    assert(rows.sortBy(r => (r._1, r._2)).toSeq ==
      again.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("node2vec corpus: valid biased walks, deterministic, bias favors returns") {
    val w = GraphQueries.node2vecCorpus(spark, sf, steps = 4, stride = 10L)
      .cache()
    val rows = w.as[(Long, Int, Long)].collect()
    assert(rows.nonEmpty)
    val byWalk = rows.groupBy(_._1)
    byWalk.foreach { case (wid, steps) =>
      assert(steps.map(_._2).sorted.toSeq == (0 to 4))
      assert(steps.minBy(_._2)._3 == wid, s"walk $wid must start at itself")
    }
    val edges = GraphBuilder.coPurchase(spark, sf).edges
      .as[(Long, Long)].collect()
      .flatMap { case (s, d) => Seq((s, d), (d, s)) }.toSet
    byWalk.values.foreach { steps =>
      steps.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(edges.contains((a._3, b._3)),
          s"${a._3} -> ${b._3} is not an edge")
        case _ =>
      }
    }
    val again = GraphQueries.node2vecCorpus(spark, sf, steps = 4, stride = 10L)
      .as[(Long, Int, Long)].collect()
    assert(rows.sortBy(r => (r._1, r._2)).toSeq ==
      again.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("node2vec return bias: backtracks beat the uniform walk on a star") {
    // star: hub 0, leaves 1..12. From the hub with prev = leaf L, L has
    // weight 4 (p=1/2) and the other 11 leaves weight 1 (not neighbors
    // of L) → backtrack prob 4/15 vs 1/12 for the uniform walk.
    val e = (1L to 12L).map(l => (0L, l)).toDF("src", "dst")
    val g = Graph(GraphBuilder.vertices(e), e)
    def backtracks(rs: Array[(Long, Int, Long)]): Double = {
      val trips = rs.groupBy(_._1).values.flatMap { s =>
        s.sortBy(_._2).map(_._3).sliding(3).filter(_.size == 3)
          .map(t => if (t(0) == t(2)) 1.0 else 0.0)
      }.toSeq
      trips.sum / trips.size
    }
    val biased = GraphQueries.node2vecWalks(g, steps = 16, stride = 1L, seed = 42L)
      .as[(Long, Int, Long)].collect()
    val uniform = GraphQueries.uniformWalks(g, steps = 16, stride = 1L, seed = 42L)
      .as[(Long, Int, Long)].collect()
    assert(backtracks(biased) > backtracks(uniform),
      s"return bias must raise the backtrack rate: " +
        s"${backtracks(biased)} vs ${backtracks(uniform)}")
  }
}
