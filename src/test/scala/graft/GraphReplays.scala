package graft

import graft.graph.{Graph, GraphBuilder}
import scala.collection.mutable

/** Driver-side reference implementations of the graph algorithms,
  * written straight from an edge list — no Spark — plus the runner that
  * puts a toy graph through both sides of the vertex gate. The specs
  * compare the production paths (the broadcast-CSR kernels below
  * [[Graph.broadcastVertexGate]], GraphX/Pregel above it) with these.
  *
  * Graphs are undirected: every edge is one arc each way, so parallel
  * and reversed edges are parallel arcs and a self-loop (v, v) is two
  * arcs from v to itself. */
object GraphReplays {

  type Edges = Seq[(Long, Long)]

  /** Neighbor multiset per vertex: each edge once per direction. */
  def adjacency(e: Edges): Map[Long, Seq[Long]] =
    e.flatMap { case (s, d) => Seq(s -> d, d -> s) }
      .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).sorted }

  /** Union-find components labelled by the min id of the component, for
    * every edge endpoint and every vertex of `vertices`. */
  def components(e: Edges, vertices: Iterable[Long] = Nil): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    vertices.foreach(find)
    e.foreach { case (s, d) =>
      val (a, b) = (find(s), find(d))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }

  /** Synchronous label propagation: labels start as vertex ids; each
    * round every vertex takes its neighbors' most frequent label, one
    * vote per arc, the smallest label on ties. Every edge endpoint gets
    * a label. */
  def labelPropagation(e: Edges, iters: Int): Map[Long, Long] = {
    var lab = adjacency(e).keys.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      val votes = e.flatMap { case (s, d) => Seq(d -> lab(s), s -> lab(d)) }
        .groupBy(_._1)
      lab = lab.map { case (v, old) =>
        v -> votes.get(v).map { vs =>
          val counts = vs.groupBy(_._2).map { case (l, xs) => l -> xs.size }
          counts.toSeq.minBy { case (l, n) => (-n, l) }._1
        }.getOrElse(old)
      }
    }
    lab
  }

  /** Queue BFS: hop distance from `s` to every vertex it reaches. */
  def bfsFrom(adj: Map[Long, Seq[Long]], s: Long): Map[Long, Int] = {
    val dist = mutable.Map(s -> 0)
    val q = mutable.Queue(s)
    while (q.nonEmpty) {
      val u = q.dequeue()
      adj.getOrElse(u, Nil).foreach { v =>
        if (!dist.contains(v)) { dist(v) = dist(u) + 1; q.enqueue(v) }
      }
    }
    dist.toMap
  }

  /** Fixed-iteration PageRank, unrounded, for every edge endpoint:
    * rank₀ = 1 and rankᵢ₊₁(v) = (1−d) + d·Σ_{arcs u→v} rankᵢ(u)/deg(u).
    * With a `source` it is personalized PageRank: rank₀ and the
    * teleport mass (1−d) sit on the source only. */
  def pageRank(e: Edges, iters: Int, damping: Double = 0.85,
               source: Option[Long] = None): Map[Long, Double] = {
    val adj = adjacency(e)
    def teleport(v: Long) = if (source.forall(_ == v)) 1.0 else 0.0
    var r = adj.keys.map(v => v -> teleport(v)).toMap
    for (_ <- 1 to iters) {
      val in = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      for ((u, ns) <- adj; v <- ns) in(v) += r(u) / ns.size
      r = adj.keys.map(v => v -> ((1 - damping) * teleport(v) + damping * in(v))).toMap
    }
    r
  }

  /** Textbook Brandes over the DISTINCT neighbor sets (simple graphs),
    * one BFS per source and a backward dependency sweep. Returns the
    * per-vertex dependency sums (a source's own excluded) and the
    * per-edge sums keyed (min, max), both multiplied by `scale`: 0.5
    * counts each unordered pair once with every vertex a source; n/(2k)
    * is the Brandes–Pich estimate from k sampled sources. */
  def brandes(e: Edges, sources: Seq[Long], scale: Double = 0.5)
      : (Map[Long, Double], Map[(Long, Long), Double]) = {
    val adj = adjacency(e).map { case (v, ns) => v -> ns.distinct }
    val bc = mutable.Map[Long, Double]().withDefaultValue(0.0)
    val eb = mutable.Map[(Long, Long), Double]().withDefaultValue(0.0)
    for (s <- sources if adj.contains(s)) {
      val dist = mutable.Map(s -> 0)
      val sigma = mutable.Map(s -> 1.0).withDefaultValue(0.0)
      val order = mutable.ArrayBuffer[Long]()
      val queue = mutable.Queue(s)
      while (queue.nonEmpty) {
        val v = queue.dequeue(); order += v
        for (w <- adj(v)) {
          if (!dist.contains(w)) { dist(w) = dist(v) + 1; queue += w }
          if (dist(w) == dist(v) + 1) sigma(w) += sigma(v)
        }
      }
      val delta = mutable.Map[Long, Double]().withDefaultValue(0.0)
      for (w <- order.reverse; v <- adj(w) if dist.contains(v) &&
          dist(v) == dist(w) - 1) {
        val c = sigma(v) / sigma(w) * (1.0 + delta(w))
        delta(v) += c
        eb((math.min(v, w), math.max(v, w))) += c
      }
      for (v <- order if v != s) bc(v) += delta(v)
    }
    (adj.keys.map(v => v -> bc(v) * scale).toMap,
      eb.map { case (k, v) => k -> v * scale }.toMap.withDefaultValue(0.0))
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** The seeded uniform Brandes sources: the first `k` ids ordered by
    * md5("id:seed"), ties by id. */
  def md5Sources(ids: Seq[Long], k: Int, seed: Long = 42L): Seq[Long] =
    ids.sortBy(id => (md5Hex(s"$id:$seed"), id)).take(k)

  /** Every table the degree, triangle and betweenness queries read —
    * degrees, the degree histogram, the memoized triangle table, the
    * clustering coefficients, average clustering, transitivity, vertex
    * and edge betweenness from `numSources` sources — as sorted row
    * strings (a double prints its shortest exact repr, so equal strings
    * are equal bits; a duplicated row stays duplicated; an action that
    * fails gives its exception's class), with every schema. */
  def perVertexTables(g: Graph, numSources: Int = 8)
      : (Seq[Seq[String]], Seq[org.apache.spark.sql.types.StructType]) = {
    val dfs = Seq(g.degrees, g.degreeHistogram, GraphBuilder.triangles(g),
      g.clusteringCoefficients, g.averageClustering, g.transitivity,
      graft.graph.GxBetweenness.run(g, numSources),
      graft.graph.GxBetweenness.edgeRun(g, numSources))
    (dfs.map(df => scala.util.Try(df.collect().map(_.toString).toSeq.sorted)
      .fold(e => Seq(e.getClass.getName), identity)), dfs.map(_.schema))
  }

  /** Runs `f` on a fresh toy graph on each side of the vertex gate —
    * the broadcast-CSR kernels, then the Pregel branch — and returns
    * both results. `isolated` adds vertices without an edge; `vertices`,
    * when given, is the whole vertex table instead of the edge
    * endpoints, so an edge may have an endpoint that is not a vertex.
    * Fresh frames per side: the graph memos key on them. */
  def bothBranches[A](edges: Edges, isolated: Seq[Long] = Nil,
                      vertices: Option[Seq[Long]] = None)(f: Graph => A): (A, A) = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    def mk(): Graph = {
      val e = edges.toDF("src", "dst")
      val v = vertices.map(_.toDF("id"))
        .getOrElse(GraphBuilder.vertices(e)).union(isolated.toDF("id"))
      Graph(v, e)
    }
    val old = Graph.broadcastVertexGate
    try {
      Graph.broadcastVertexGate = Long.MaxValue
      val csr = f(mk())
      Graph.broadcastVertexGate = 0L
      (csr, f(mk()))
    } finally Graph.broadcastVertexGate = old
  }
}
