package graft.graph

import graft.{Materialize, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** Graph derivation from the relational test tables.
  *
  * The working graph is the part co-purchase graph: vertices are parts,
  * with an undirected edge between two parts whenever they co-occur in
  * the same order. This mirrors the reference's "load an edge list, build
  * vertices as the distinct endpoints" construction
  * (/root/reference/main.py:24-41) but derives the edge list
  * relationally, so it exists at every scale factor.
  *
  * Scale: the self-join shuffles lineitem once on l_orderkey; orders have
  * O(1) lines each, so the pair fan-out is a small constant per order and
  * total work is linear in |lineitem|.
  */
object GraphBuilder {

  /** Per-order sorted part sets — the shared guts of both edge
    * derivations. ONE shuffle of lineitem (groupBy orderkey with
    * partial aggregation) instead of the self-join's two full-table
    * shuffles; pair generation is then row-LOCAL. Orders bound the
    * array width (TPC-H-ish data: ≤ ~7 parts per order), and a
    * pathological giant order costs C(k,2) rows in EITHER formulation
    * — the self-join materializes the same k² join rows. */
  private def orderParts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list("l_partkey")).as("ps"))

  /** Canonical (src < dst) co-purchase ROW pairs — one row per pair of
    * lineitems sharing an order (exactly the self-join's semantics: a
    * part appearing twice in an order contributes multiplicatively to
    * the weighted counts; equal-part pairs are excluded by the strict
    * filter). Both generate stages are codegen'd native generators
    * (posexplode + slice) — no interpreted lambdas on the hot path,
    * and the sorted list makes src ≤ dst structural. */
  private def coPurchasePairs(spark: SparkSession, dir: String): DataFrame =
    orderParts(spark, dir)
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "src")))
      .select(col("src"),
        explode(slice(col("ps"), col("i") + 2,
          size(col("ps")))).as("dst"))
      .filter(col("src") < col("dst"))

  /** Canonical (src < dst, distinct) co-purchase edges. */
  def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    coPurchasePairs(spark, dir).distinct()

  /** Weighted co-purchase edges: weight = number of orders the pair
    * co-occurs in. Same derivation — the distinct becomes a count
    * aggregate. */
  def coPurchaseWeightedEdges(spark: SparkSession, dir: String): DataFrame =
    coPurchasePairs(spark, dir)
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("weight"))

  /** Vertices = all parts that appear in any lineitem (graph endpoints). */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()

  // One persisted graph per (session, dir) — keyed via
  // GraftSession.sessionKey, so a fresh session over a regenerated dir
  // rebuilds instead of serving the old session's frame. Bench runs
  // every graph query in one JVM, and re-deriving + re-persisting the
  // edge set per query would measure the derivation join five times
  // instead of the algorithms. Tiny footprint (two longs per edge).
  private val cache = TrieMap.empty[String, Graph]

  // weighted edges subsume the unweighted canonical set (same single
  // shuffle; the distinct becomes a count) — derive once, share both
  private val weightedCache = TrieMap.empty[String, DataFrame]

  def weightedEdges(spark: SparkSession, dir: String): DataFrame =
    weightedCache.getOrElseUpdate(graft.GraftSession.sessionKey(spark, dir),
      graft.Materialize.table(coPurchaseWeightedEdges(spark, dir)))

  def coPurchase(spark: SparkSession, dir: String): Graph =
    cache.getOrElseUpdate(graft.GraftSession.sessionKey(spark, dir), {
      val e = weightedEdges(spark, dir).select("src", "dst")
      // vertices ARE the edge endpoints here (no isolates by
      // construction), so ONE degree aggregate serves both the degree
      // table and the vertex set — the generic path's union+distinct
      // vertex derivation and isolate-preserving join would be two
      // extra shuffles re-materializing the same ids
      val deg = graft.Materialize.table(
        e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id")))
          .groupBy("id").agg(count(lit(1)).as("degree")))
      Graph(deg.select("id"), e, precomputedDegrees = Some(deg))
    })

  // LPA communities are consumed by three queries (labels, count,
  // sampling); memoize the 5-iteration run per (graph, iters). Keyed on
  // the Graph value, whose equality is its frames' identity.
  private val commCache = TrieMap.empty[(Graph, Int), DataFrame]

  /** Normalized LPA communities of `g`: (id, community), community the
    * dense rank of the LPA label (smallest label → 0), one row per
    * vertex with an edge; memoized per graph. Identical labels to the
    * DataFrame implementation on both sides of the vertex gate: below
    * it the CSR kernel's labels ([[communityLabels]]), above it
    * GraphX-backed (Gx.labelPropagation) without per-iteration
    * planning cost. */
  def communities(spark: SparkSession, g: Graph, iters: Int = 5): DataFrame =
    commCache.getOrElseUpdate((g, iters), {
      import spark.implicits._
      // persist + count (inside Materialize.table), not localCheckpoint:
      // keeps the AQE-optimized plan for the materialization (checkpoint
      // takes the non-adaptive path and measured ~10x slower on the
      // triangle pipeline); the flatten then caps consumer plan depth
      if (Gx.belowGate(g)) {
        val ids = g.csr.value.ids
        val comm = communityLabels(g, iters)
        // driver-side rows: one partition, declared so (see
        // Gx.connectedComponents)
        Materialize.table(
          ids.indices.map(i => (ids(i), comm(i))).toDF("id", "community").coalesce(1))
      } else
        Materialize.table(
          Iterative.normalizeLabels(Gx.labelPropagation(g, iters)))
    })

  private val labelCache = TrieMap.empty[(Graph, Int), Array[Int]]

  /** Below the vertex gate: the community of every [[Graph.csr]] index
    * — LPA and its dense-rank normalization in one single-task job —
    * memoized per graph for [[communities]] and [[CommunitySample]]. */
  private[graph] def communityLabels(g: Graph, iters: Int): Array[Int] =
    labelCache.getOrElseUpdate((g, iters),
      Gx.onCsr(g)(c => Csr.denseRank(Csr.labelPropagation(c, iters))))

  // Seven queries (triangles, local/global clustering, transitivity,
  // summary, clustering null, sample metrics) consume per-vertex
  // triangle counts. Above the vertex gate the (id, degree, triangles)
  // table is materialized once per graph, over the persisted oriented
  // stream. Below it the graph already memoizes the counts (one CSR
  // job) and serves the table as a one-partition leaf, so nothing is
  // cached here.
  private val triCache = TrieMap.empty[Graph, DataFrame]

  /** Per-vertex triangle counts of `g`: (id, degree, triangles), a row
    * per vertex; memoized per graph. */
  def triangles(g: Graph): DataFrame =
    if (Gx.belowGate(g)) g.triangleVertexCounts
    else triCache.getOrElseUpdate(g, Materialize.table(g.triangleVertexCounts))

  // landmark BFS distances feed three queries (bfs, closeness, and the
  // spirit of diameter); materialize the top-8 table once — top-4 is a
  // prefix of the same (degree desc, id) ordering, so subset-filtering
  // serves the 4-landmark query
  private val bfsCache = TrieMap.empty[(Graph, Int), DataFrame]

  def landmarkBfs(g: Graph, k: Int = 8): DataFrame =
    bfsCache.getOrElseUpdate((g, k), {
      val landmarks = Iterative.topDegreeLandmarks(g, k)
        .collect().map(_.getLong(0)).toSeq
      Gx.multiSourceBfsTable(g, landmarks)
    })

  // the double-sweep diameter estimate runs a far-vertex Pregel; both
  // g_diameter and g_summary consume it — one run per (session, graph)
  private val diamCache = TrieMap.empty[Graph, DataFrame]

  def diameter(g: Graph): DataFrame =
    diamCache.getOrElseUpdate(g,
      Materialize.table(Gx.diameterEstimate(g)))
}
