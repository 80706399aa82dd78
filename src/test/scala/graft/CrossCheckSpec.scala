package graft

import graft.graph.{GraphBuilder, Gx}
import org.apache.spark.graphx.{Edge, Graph => XGraph, PartitionStrategy}
import org.scalatest.funsuite.AnyFunSuite

/** Cross-validation of the production path ([[Gx]] and the triangle
  * table) against GraphX's own algorithms — an INDEPENDENT
  * implementation shipped with Spark. Gx runs its broadcast-CSR kernels
  * here (the co-purchase graph is below the vertex gate), so components
  * and triangles are compared with code that shares nothing with them.
  * Agreement on the real co-purchase graph is much stronger evidence
  * than known-answer toys.
  */
class CrossCheckSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private lazy val g = GraphBuilder.coPurchase(spark, sf)
  private lazy val xg: XGraph[Int, Int] = XGraph.fromEdges(
    g.edges.as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, 1) },
    defaultValue = 0)

  test("connected components match GraphX") {
    val ours = Gx.connectedComponents(g)
      .as[(Long, Long)].collect().toMap
    val theirs = xg.connectedComponents().vertices.collect().toMap
    assert(ours == theirs)
  }

  test("triangle counts match GraphX") {
    val ours = GraphBuilder.triangles(g).select("id", "triangles")
      .as[(Long, Long)].collect().toMap
    val theirs = xg.partitionBy(PartitionStrategy.RandomVertexCut)
      .triangleCount().vertices.collect().toMap
      .map { case (k, v) => k -> v.toLong }
    assert(ours == theirs)
  }

  test("pagerank ranking agrees with GraphX on the top vertices") {
    val ours = Gx.pageRank(g, iters = 20)
      .orderBy($"pagerank".desc, $"id".asc)
      .select("id").as[Long].take(10).toSeq
    // GraphX ranks over DIRECTED edges; feed it both directions to
    // match our undirected semantics
    val xgSym: XGraph[Int, Int] = XGraph.fromEdges(
      g.symmetrized.as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, 1) },
      defaultValue = 0)
    val theirs = xgSym.staticPageRank(20, resetProb = 0.15)
      .vertices.sortBy({ case (id, r) => (-r, id) }).map(_._1).take(10).toSeq
    // same top-10 hubs (exact rank values differ in normalization detail)
    assert(ours.toSet == theirs.toSet,
      s"ours=$ours theirs=$theirs")
  }
}
