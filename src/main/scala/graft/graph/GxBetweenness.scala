package graft.graph

import org.apache.spark.graphx.{EdgeDirection, Pregel, VertexRDD}
import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Brandes betweenness (ref: nx.betweenness_centrality) from k seeded
  * UNIFORM md5-ordered sources: the Brandes–Pich estimator, scaled by
  * n/k (unbiased only for uniform sources), each unordered pair counted
  * once. Two regimes, split at [[Graph.broadcastVertexGate]]:
  *
  *  - at or below it, the sources are picked on the driver from the
  *    graph's collected vertex ids ([[md5Sources]]), then ONE
  *    source-parallel Spark job over the graph's broadcast CSR
  *    ([[csrSweep]]): sources are split across tasks, each task runs
  *    textbook per-source Brandes with dense arrays and ships its sums
  *    in chunks, summed by one reduceByKey and collected. The two
  *    output tables are one-partition leaves over the broadcast sums
  *    ([[csrTables]]): nothing is persisted;
  *  - above it (the 100 TB branch), the sources come from a Spark
  *    `orderBy(md5(..)).limit(k)`, then GraphX Pregel
  *    ([[pregelSweep]]): one forward run carrying all k (dist, sigma)
  *    slots, then one aggregateMessages per BFS level from the deepest
  *    frontier upward; both output tables are persisted leaves
  *    ([[frameTables]]).
  *
  * Both keep the same fixed-point arithmetic, so their outputs are
  * bit-identical to each other and to the DuckDB oracle.
  */
object GxBetweenness {

  /** EXACT betweenness — every vertex a Brandes source, no sampling
    * (the reference computes exact on the driver, main.py:151-155; the
    * estimator stays the production default because exact is Θ(|V|·|E|)
    * work and Θ(|V|) per-vertex state). With all sources the n/k
    * extrapolation factor is 1, so this is textbook Brandes. Below the
    * vertex gate that is |V| sources over the CSR, O(|V|+|E|) state per
    * task; the Pregel branch's per-vertex (dist, sigma) slot arrays are
    * |V| wide — opt in only at reference scale (≲ tens of thousands of
    * vertices), where the quadratic state still fits executor memory. */
  def exact(g: Graph, seed: Long = 42L): DataFrame = {
    val n = g.vertexCount
    require(n <= 100000,
      s"exact betweenness is quadratic state: |V| = $n is past the " +
        "opt-in envelope; use the seeded estimator (run) instead")
    run(g, numSources = n.toInt, seed = seed)
  }

  def run(g: Graph, numSources: Int = 8, seed: Long = 42L): DataFrame =
    sweep(g, numSources, seed)._1

  /** EDGE betweenness (nx.edge_betweenness_centrality / the
    * Girvan–Newman splitting criterion), same seeded Brandes estimator:
    * the backward sweep's per-edge term σv/σw·(1+δw) IS the edge
    * dependency, so the edge variant collects exactly what the vertex
    * accumulation already routes (per arc on the CSR, one extra
    * triplets pass per level on Pregel) — same fixed-point
    * micro-longs, same n/k extrapolation. */
  def edgeRun(g: Graph, numSources: Int = 8, seed: Long = 42L): DataFrame =
    sweep(g, numSources, seed)._2

  // ONE sweep serves both rankings (r9): vertex and edge betweenness
  // share the forward (dist, sigma) pass and the entire backward
  // dependency recursion — r8 ran the full sweep twice (2.0 s + 5.9 s
  // at sf0.1); the edge variant's extra per-level triplets pass is the
  // only marginal cost, which is why the edge table is computed
  // EAGERLY with the vertex table rather than lazily: the production
  // suite always consumes both, and a vertex-only first pass would
  // re-run the whole forward+backward sweep when the edge ranking is
  // asked for next (r8's exact double cost back again).
  //
  // Keying (r10, closes the ADVICE r9 medium): the memo key is the
  // Graph VALUE — a case class over DataFrames whose equals is the
  // frames' reference identity — inside an access-ordered LRU, so (a)
  // two live graphs can never collide the way identityHashCode
  // strings could, and (b) fresh-Graph-per-call patterns (the
  // FallbackGateSpec shape) evict their oldest tables' storage instead
  // of retaining every sweep for the session lifetime.
  private final case class SweepTables(vtx: DataFrame, edge: DataFrame,
                                       release: () => Unit)

  private val sweepCap = 8
  private val sweepCache =
    new java.util.LinkedHashMap[(Graph, Int, Long), SweepTables](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Graph, Int, Long), SweepTables]): Boolean =
        if (size > sweepCap) { e.getValue.release(); true } else false
    }

  // the lock is held across the sweep computation — same per-key
  // blocking the TrieMap memo had; all callers are sequential queries
  private def sweep(g: Graph, numSources: Int,
                    seed: Long): (DataFrame, DataFrame) =
    sweepCache.synchronized {
      val key = (g, numSources, seed)
      val hit = sweepCache.get(key)
      val entry = if (hit != null) hit else {
        val built = computeSweep(g, numSources, seed)
        sweepCache.put(key, built)
        built
      }
      (entry.vtx, entry.edge)
    }

  private def computeSweep(g: Graph, numSources: Int,
                           seed: Long): SweepTables = {
    val n = g.vertexCount
    val k = math.min(numSources.toLong, n)
    if (Gx.belowGate(g))
      csrTables(g, csrSweep(g, md5Sources(g.vertexIds.value, numSources, seed)), n, k)
    else {
      val spark = g.edges.sparkSession
      import spark.implicits._
      // md5-ordered uniform sample, not xxhash64: md5 reproduces in any
      // engine, so the DuckDB oracle picks the same sources
      val sources = g.vertices
        .orderBy(md5(concat_ws(":", col("id"), lit(seed))), col("id"))
        .limit(numSources).select("id").as[Long].collect().toSeq
      Gx.of(g) // the shared base outlives the sweep's released state
      Gx.releasingState(spark.sparkContext)(pregelSweep(g, sources))(
        frameTables(g, n, k))
    }
  }

  /** The first `k` of `ids` in `orderBy(md5(concat_ws(":", id, seed)),
    * id)` order, picked on the driver. Spark's md5 is lowercase hex, so
    * the hex strings order as the digests' bytes compared unsigned. */
  private[graft] def md5Sources(ids: Array[Long], k: Int, seed: Long): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val keyed = ids.map(id => (md.digest(s"$id:$seed".getBytes("UTF-8")), id))
    val order: Ordering[(Array[Byte], Long)] = { (x, y) =>
      val c = java.util.Arrays.compareUnsigned(x._1, y._1)
      if (c != 0) c else java.lang.Long.compare(x._2, y._2)
    }
    keyed.sorted(order).iterator.take(k).map(_._2).toSeq
  }

  // no final round(): micro-grid values sit on decimal .5 ties that
  // Spark (shortest-decimal HALF_UP) and binary-double engines round
  // apart; the exact rational micro·n/(k·2·1e9) is bit-identical. The
  // driver-side twin multiplies exactly, as ANSI Spark does.
  private def scaled(micro: Column, n: Long, k: Long): Column =
    (micro * lit(n)).cast("double") / lit(k * 2.0 * 1.0e9)

  private def scaled(micro: Long, n: Long, k: Long): Double =
    Math.multiplyExact(micro, n).toDouble / (k * 2.0 * 1.0e9)

  /** Above the gate: (dep: id → Σ_s δ_s(v) micro-longs, eb: canonical
    * edge → Σ_s edge dependency micro-longs) → the two persisted output
    * tables, released together on eviction. */
  private def frameTables(g: Graph, n: Long, k: Long)(
      deps: (DataFrame, DataFrame)): SweepTables = {
    val (dep, eb) = deps
    // canonicalize defensively: co-purchase edges are src<dst by
    // construction, but Graph accepts any orientation
    val (edge, edgeHandle) = Materialize.tableWithHandle(g.edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .join(eb, Seq("src", "dst"), "left")
      .na.fill(0L, Seq("depmicro"))
      .select(col("src"), col("dst"),
        scaled(col("depmicro"), n, k).as("edge_betweenness")))
    val (vtx, vtxHandle) = Materialize.tableWithHandle(g.vertices.select("id")
      .join(dep, Seq("id"), "left")
      .na.fill(0L, Seq("dep"))
      .select(col("id"), scaled(col("dep"), n, k).as("betweenness")))
    SweepTables(vtx, edge, () => {
      vtxHandle.unpersist(blocking = false)
      edgeHandle.unpersist(blocking = false)
    })
  }

  /** At or below the gate: the sweep's summed (per-index, per-arc)
    * micro-longs, broadcast, → the two output tables as one-partition
    * [[Gx.csrTable]]s, the rows the frame branch gives: a vertex-table
    * row per id, and an edge-table row per `g.edges` row, canonical
    * (lo, hi). Nothing is persisted; eviction drops the broadcast's
    * executor copies. */
  private def csrTables(g: Graph, sums: (Array[Long], Array[Long]),
                        n: Long, k: Long): SweepTables = {
    val bc = g.edges.sparkSession.sparkContext.broadcast(sums)
    val vtx = Gx.csrTable(g, StructType(Seq(g.idField,
        StructField("betweenness", DoubleType, nullable = true))),
        g.vertexIds.value.length) { (c, ids) =>
      val vdep = bc.value._1
      ids.iterator.map { id =>
        val i = c.indexOf(id)
        InternalRow(id, scaled(if (i < 0) 0L else vdep(i), n, k))
      }
    }
    val endsNullable = Seq("src", "dst").forall(g.edges.schema(_).nullable)
    val edge = Gx.csrTable(g, StructType(Seq(
        StructField("src", LongType, endsNullable),
        StructField("dst", LongType, endsNullable),
        StructField("edge_betweenness", DoubleType, nullable = true))),
        sums._2.length / 2) { (c, _) =>
      val adep = bc.value._2
      // every edge u–v (u < v) is one arc u→v, a self-loop two arcs
      // v→v; each parallel copy reads its edge's sum, which the sweep
      // keeps on the first arc of the run
      Iterator.range(0, c.size).flatMap { u =>
        val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        var a = c.offsets(u)
        while (a < c.offsets(u + 1)) {
          val v = c.nbrs(a)
          var run = 1
          while (a + run < c.offsets(u + 1) && c.nbrs(a + run) == v) run += 1
          val copies = if (v > u) run else if (v == u) run / 2 else 0
          if (copies > 0) {
            val row = InternalRow(c.ids(u), c.ids(v), scaled(adep(a), n, k))
            var r = 0
            while (r < copies) { rows += row; r += 1 }
          }
          a += run
        }
        rows.iterator
      }
    }
    SweepTables(vtx, edge, () => bc.unpersist(blocking = false))
  }

  /** Below the vertex gate: ONE source-parallel job over the graph's
    * broadcast [[Graph.csr]]. Each task runs textbook Brandes per
    * source — a queue BFS for dist, σ in BFS order, δ in reverse BFS
    * order — with the Pregel branch's exact arithmetic (σ an
    * integer-valued double, each dependency term
    * floor(σv/σw·(1e9+δw)+0.5) a long, δ and the per-arc terms integer
    * sums), so both branches and the DuckDB oracle agree bit for bit.
    * Per-task state is O(|V|+|E|) dense arrays; the per-vertex and
    * per-arc sums leave each task as fixed-size arrays keyed by chunk,
    * are summed by one reduceByKey, and come back to the driver as the
    * dense (per-index, per-arc) sums: every arc's sum sits on its
    * edge's first lo→hi arc. */
  private def csrSweep(g: Graph, sources: Seq[Long]): (Array[Long], Array[Long]) = {
    val bc = g.csr
    // dense per-task accumulators leave a task in chunks of this many
    // longs, summed per chunk across tasks — never one tuple per arc
    val chunk = 8192
    val vChunks = (bc.value.size + chunk - 1) / chunk
    val partials = Gx.sourceParallel(g, sources.distinct) { (c, it) =>
      val nv = c.size
      val dist = Array.fill(nv)(-1)
      val order = new Array[Int](nv)
      val sigma = new Array[Double](nv)
      val delta = new Array[Long](nv)
      val vdep = new Array[Long](nv)
      val adep = new Array[Long](c.arcs)
      it.foreach { id =>
        val s = c.indexOf(id)
        if (s >= 0) {
          val reached = Csr.bfs(c, s, dist, order)
          // σ: every parent precedes its children in BFS order, and
          // parallel arcs each carry a path (the GraphX multigraph)
          sigma(s) = 1.0
          var j = 0
          while (j < reached) {
            val v = order(j)
            val dv = dist(v) + 1
            var a = c.offsets(v)
            while (a < c.offsets(v + 1)) {
              val w = c.nbrs(a)
              if (dist(w) == dv) sigma(w) += sigma(v)
              a += 1
            }
            j += 1
          }
          // δ: successors before predecessors; the source (order(0))
          // only receives, and its own δ is excluded (pairs s ≠ v)
          j = reached - 1
          while (j > 0) {
            val w = order(j)
            val pd = dist(w) - 1
            val sw = sigma(w)
            val dw = delta(w)
            var a = c.offsets(w)
            while (a < c.offsets(w + 1)) {
              val v = c.nbrs(a)
              if (dist(v) == pd) {
                val t = math.floor(sigma(v) / sw * (1.0e9 + dw) + 0.5).toLong
                delta(v) += t
                adep(a) += t
              }
              a += 1
            }
            vdep(w) += dw
            j -= 1
          }
          j = 0
          while (j < reached) {
            val v = order(j)
            dist(v) = -1; sigma(v) = 0.0; delta(v) = 0L
            j += 1
          }
        }
      }
      // fold every arc's sum onto its edge's canonical arc: the first
      // lo→hi arc (index order = id order, so lo < hi in ids too)
      var u = 0
      while (u < nv) {
        var a = c.offsets(u)
        while (a < c.offsets(u + 1)) {
          val v = c.nbrs(a)
          if (adep(a) != 0L && v != u) {
            val t = if (u < v) c.firstArc(u, v) else c.firstArc(v, u)
            if (t != a) { adep(t) += adep(a); adep(a) = 0L }
          }
          a += 1
        }
        u += 1
      }
      def chunks(arr: Array[Long], key0: Int): Iterator[(Int, Array[Long])] =
        Iterator.range(0, (arr.length + chunk - 1) / chunk).flatMap { i =>
          val part = java.util.Arrays.copyOfRange(
            arr, i * chunk, math.min(arr.length, (i + 1) * chunk))
          if (part.exists(_ != 0L)) Iterator((key0 + i, part)) else Iterator.empty
        }
      chunks(vdep, 0) ++ chunks(adep, vChunks)
    }
    val sums = partials.reduceByKey({ (a, b) =>
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }, partials.getNumPartitions).collect()
    val vdep = new Array[Long](bc.value.size)
    val adep = new Array[Long](bc.value.arcs)
    sums.foreach { case (key, part) =>
      if (key < vChunks) System.arraycopy(part, 0, vdep, key * chunk, part.length)
      else System.arraycopy(part, 0, adep, (key - vChunks) * chunk, part.length)
    }
    (vdep, adep)
  }

  /** Above the vertex gate (the 100 TB branch): the Pregel sweep.
    *
    * Forward: one Pregel run carrying all k (dist, sigma) slots — BFS
    * waves arrive level-synchronously, so the first wave fixes dist and
    * the merged same-round messages fix sigma (# shortest paths).
    * Backward: level-synchronous dependency accumulation δ(v) =
    * Σ_w σ(v)/σ(w)·(1+δ(w)) over successors w, one aggregateMessages per
    * level from the deepest frontier upward — diameter rounds total, all
    * sources simultaneously. Everything it persists is traversal state
    * that [[computeSweep]] releases once the output tables exist. */
  private def pregelSweep(g: Graph, sources: Seq[Long]): (DataFrame, DataFrame) = {
    val Inf = Int.MaxValue // local: closures must not capture the module
    val spark = g.edges.sparkSession
    import spark.implicits._
    val slot = sources.zipWithIndex.toMap
    // ---- forward sweep: per-slot (dist, sigma) ----
    final case class DS(dist: Array[Int], sigma: Array[Double])
    def mergeMsg(a: DS, b: DS): DS = {
      val d = new Array[Int](sources.size)
      val s = new Array[Double](sources.size)
      var i = 0
      while (i < d.length) {
        if (a.dist(i) < b.dist(i)) { d(i) = a.dist(i); s(i) = a.sigma(i) }
        else if (b.dist(i) < a.dist(i)) { d(i) = b.dist(i); s(i) = b.sigma(i) }
        else { d(i) = a.dist(i); s(i) = a.sigma(i) + b.sigma(i) }
        i += 1
      }
      DS(d, s)
    }
    // candidate wave from `from` toward a vertex currently at `to`;
    // null unless some slot STRICTLY improves. (Equal-dist sends are
    // never needed — all dist-d parents are set in round d and deliver
    // their sigma merged in round d+1 — and would keep the target
    // spuriously active forever.)
    def wave(from: DS, to: DS): DS = {
      var any = false
      val d = new Array[Int](sources.size)
      val s = new Array[Double](sources.size)
      var i = 0
      while (i < d.length) {
        if (from.dist(i) != Inf && from.dist(i) + 1 < to.dist(i)) {
          d(i) = from.dist(i) + 1
          s(i) = from.sigma(i)
          any = true
        } else { d(i) = Inf; s(i) = 0.0 }
        i += 1
      }
      if (any) DS(d, s) else null
    }
    val init = Gx.of(g).mapVertices { (id, _) =>
      val d = Array.fill(sources.size)(Inf)
      val s = new Array[Double](sources.size)
      slot.get(id).foreach { i => d(i) = 0; s(i) = 1.0 }
      DS(d, s)
    }
    val initMsg = DS(Array.fill(sources.size)(Inf), new Array[Double](sources.size))
    // vprog: adopt strictly better dists; ACCUMULATE sigma on equal dist
    // arriving in the same superstep (mergeMsg already combined them)
    val forward = Pregel(init, initMsg, activeDirection = EdgeDirection.Either)(
      (_, attr, msg) => {
        val d = new Array[Int](sources.size)
        val s = new Array[Double](sources.size)
        var i = 0
        while (i < d.length) {
          if (msg.dist(i) < attr.dist(i)) { d(i) = msg.dist(i); s(i) = msg.sigma(i) }
          else { d(i) = attr.dist(i); s(i) = attr.sigma(i) }
          i += 1
        }
        DS(d, s)
      },
      t => {
        val toDst = wave(t.srcAttr, t.dstAttr)
        val toSrc = wave(t.dstAttr, t.srcAttr)
        (if (toDst != null) Iterator((t.dstId, toDst)) else Iterator.empty) ++
          (if (toSrc != null) Iterator((t.srcId, toSrc)) else Iterator.empty)
      },
      mergeMsg).cache()
    forward.vertices.count()

    val maxDist = forward.vertices
      .map { case (_, ds) => ds.dist.foldLeft(0)((m, d) => if (d != Inf) math.max(m, d) else m) }
      .fold(0)(math.max)

    // ---- backward sweep: Array[delta] per vertex, level-synchronous ----
    // delta lives in a VertexRDD and the message graph is rebuilt FROM
    // THE CACHED FORWARD GRAPH each level (the Gx.labelPropagation
    // pattern) — chaining bg.outerJoinVertices(bg...) per level instead
    // grows GraphX's replicated-vertex-view lineage with graph depth,
    // the exact instability the LPA rewrite removed (bimodal runtimes
    // when an upstream view gets re-shipped)
    // δ is FIXED-POINT (long micro-units, 1e-9): each contribution
    // σv/σw·(1e9+δw) is rounded to a long before summing, so merges are
    // exact integer adds — independent of GraphX's message-merge order,
    // hence deterministic run-to-run AND engine-portable (matches the
    // CSR sweep and the DuckDB oracle bit-for-bit)
    var delta: VertexRDD[Array[Long]] =
      forward.vertices.mapValues(_ => new Array[Long](sources.size)).cache()
    delta.count()
    // per-edge dependency accumulator (edge mode only): the level-l
    // term for edge (v at l−1, w at l) is the SAME micro-long the
    // vertex path sends — collected keyed by the canonical edge.
    // One persisted RDD per level (materialized before bg unpersists),
    // unioned once at the end — not a re-persisted chain.
    val edgeLevels =
      scala.collection.mutable.ListBuffer
        .empty[org.apache.spark.rdd.RDD[((Long, Long), Long)]]
    for (level <- maxDist to 1 by -1) {
      val bg = forward.outerJoinVertices(delta)((_, ds, d) =>
        (ds, d.getOrElse(new Array[Long](sources.size)))).cache()
      locally {
        val lvl = level // avoid capturing the loop var reference
        val nSlots = sources.size
        val levelEdges = bg.triplets.flatMap { t =>
          def tot(vAttr: (DS, Array[Long]), wAttr: (DS, Array[Long])): Long = {
            val (vds, _) = vAttr
            val (wds, wdelta) = wAttr
            var s = 0L
            var i = 0
            while (i < nSlots) {
              if (wds.dist(i) == lvl && vds.dist(i) == lvl - 1 && wds.sigma(i) > 0)
                s += math.floor(
                  vds.sigma(i) / wds.sigma(i) * (1.0e9 + wdelta(i)) + 0.5).toLong
              i += 1
            }
            s
          }
          val c = tot(t.srcAttr, t.dstAttr) + tot(t.dstAttr, t.srcAttr)
          if (c != 0L)
            Iterator(((math.min(t.srcId, t.dstId),
              math.max(t.srcId, t.dstId)), c))
          else Iterator.empty
        }
        // materialize NOW: levelEdges reads bg, which is unpersisted at
        // the end of this iteration
        val persisted = levelEdges
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        persisted.count()
        edgeLevels += persisted
      }
      val contribs = bg.aggregateMessages[Array[Long]](
        t => {
          // successor w (dist level) contributes to predecessor v
          // (dist level-1): round(sigma_v/sigma_w * (1e9 + delta_w))
          def contrib(vAttr: (DS, Array[Long]), wAttr: (DS, Array[Long])): Array[Long] = {
            val (vds, _) = vAttr
            val (wds, wdelta) = wAttr
            var any = false
            val out = new Array[Long](sources.size)
            var i = 0
            while (i < out.length) {
              if (wds.dist(i) == level && vds.dist(i) == level - 1 && wds.sigma(i) > 0) {
                out(i) = math.floor(
                  vds.sigma(i) / wds.sigma(i) * (1.0e9 + wdelta(i)) + 0.5).toLong
                any = true
              }
              i += 1
            }
            if (any) out else null
          }
          val toSrc = contrib(t.srcAttr, t.dstAttr)
          val toDst = contrib(t.dstAttr, t.srcAttr)
          if (toSrc != null) t.sendToSrc(toSrc)
          if (toDst != null) t.sendToDst(toDst)
        },
        (a, b) => {
          val out = new Array[Long](sources.size)
          var i = 0
          while (i < out.length) { out(i) = a(i) + b(i); i += 1 }
          out
        })
      val prev = delta
      delta = bg.vertices.leftJoin(contribs) { (_, attr, c) =>
        val (ds, d) = attr
        c match {
          case Some(arr) =>
            val nd = new Array[Long](sources.size)
            var i = 0
            // only vertices AT level-1 accept this level's contribution
            while (i < nd.length) {
              nd(i) = if (ds.dist(i) == level - 1) d(i) + arr(i) else d(i)
              i += 1
            }
            nd
          case None => d
        }
      }.cache()
      delta.count()
      prev.unpersist(blocking = false)
      // vertices only — bg shares the forward graph's cached edges
      bg.unpersistVertices(blocking = false)
    }

    val all =
      if (edgeLevels.isEmpty)
        spark.sparkContext.emptyRDD[((Long, Long), Long)]
      else spark.sparkContext.union(edgeLevels.toSeq)
    val eb = all.reduceByKey(_ + _)
      .map { case ((lo, hi), m) => (lo, hi, m) }
      .toDF("src", "dst", "depmicro")
    val srcArr = sources.toArray
    val dep = forward.vertices.leftJoin(delta) { (id, ds, dOpt) =>
      val d = dOpt.getOrElse(new Array[Long](sources.size))
      var sum = 0L
      var i = 0
      while (i < d.length) {
        // δ at the source itself is excluded (pairs s≠v)
        if (srcArr(i) != id && ds.dist(i) != Inf) sum += d(i)
        i += 1
      }
      sum
    }.map { case (id, s) => (id, s) }.toDF("id", "dep")
    (dep, eb)
  }
}
