package graft

import graft.GraphReplays.bothBranches
import graft.graph.{Graph, GraphBuilder, Gx, Iterative}
import org.scalatest.funsuite.AnyFunSuite

class PprSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("personalized pagerank concentrates mass near the source") {
    // path 1-2-3-4-5, source 1: rank decays with distance from source
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val (pr, pregel) = bothBranches(path)(Gx.personalizedPageRank(_, 1L, iters = 20)
      .as[(Long, Double)].collect().toMap)
    assert(pr == pregel)
    // mass decays with distance from the source (the source's sole
    // neighbor may out-rank the source itself — it receives ALL of the
    // source's outflow — so compare across distance bands)
    assert(pr(1L) > pr(4L))
    assert(pr(2L) > pr(5L))
    assert(pr(1L) + pr(2L) > pr(4L) + pr(5L))
    // total mass bounded by 1 (walk-with-restart distribution)
    assert(pr.values.sum <= 1.0 + 1e-6)
    val want = GraphReplays.pageRank(path, iters = 20, source = Some(1L))
    pr.foreach { case (id, r) => assert(math.abs(r - want(id)) <= 1e-6, s"vertex $id") }
  }

  test("parallel PPR slot-matches independent single-source runs") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 4L))
      .toDF("src", "dst")
    val g = Graph(GraphBuilder.vertices(e), e)
    val par = graft.graph.Gx.parallelPersonalizedPageRank(g, Seq(1L, 3L))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._2).view.mapValues(_.map(r => r._1 -> r._3).toMap).toMap
    for (src <- Seq(1L, 3L)) {
      val single = graft.graph.Gx.personalizedPageRank(g, src)
        .as[(Long, Double)].collect().toMap
      assert(par(src) == single, s"slot $src diverges from single-source run")
    }
  }

  test("avg path length exact on path graph with all-vertex landmarks") {
    val (a, pregel) = bothBranches(Seq((1L, 2L), (2L, 3L)))(g =>
      Iterative.avgPathLength(Gx.multiSourceBfs(g, Seq(1L, 2L, 3L))).as[Double].head())
    assert(a == pregel)
    // pairs: (1,2)=1 (1,3)=2 (2,3)=1 both directions → avg = 4/3
    assert(math.abs(a - 4.0 / 3.0) < 1e-3)
  }
}
