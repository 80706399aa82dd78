package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** FLAGSHIP operator: community-based graph sampling via parallel random
  * walks — the reference's core contribution
  * (/root/reference/main.py:175-195 + single_random_walk:55-105 +
  * technical report). One walk per community, walk length
  * n_c / (1 + α·cc_c) + 1 where cc_c is the community's average
  * clustering coefficient (main.py:51-52): big, loosely-clustered
  * communities get sampled deeper; tight ones shallower.
  *
  * Spark-first re-expression (vs the reference's RDD groupBy +
  * partitionBy + NetworkX-per-partition):
  *   - communities come from the distributed LPA (no driver dict UDF);
  *   - above the vertex gate, per-community clustering coefficients
  *     are computed with the distributed triangle pipeline on the
  *     intra-community subgraph (below it, by the same intersection
  *     rule inside the CSR job, [[Csr.intraStats]]) — the reference
  *     rebuilds a NetworkX graph per partition instead;
  *   - only the walk itself runs imperatively, inside mapPartitions on
  *     rows hash-partitioned by community: per-task state is one
  *     community's adjacency (the same memory assumption the reference
  *     makes), never the whole graph;
  *   - seeded per community → deterministic output, testable.
  *
  * Two regimes, split at [[Graph.broadcastVertexGate]]: at or below it
  * the whole sample is ONE community-parallel job over the broadcast
  * [[Graph.csr]] plus the broadcast LPA labels ([[csrSample]]); above
  * it the DataFrame pipeline below runs. Both give identical rows.
  */
object CommunitySample {

  // two queries consume the sample (the sample itself and the
  // sample-quality metrics); memoize per (graph, params), keyed on the
  // Graph value, whose equality is its frames' identity
  private val cache = scala.collection.concurrent.TrieMap
    .empty[(Graph, Double, Int, Long, Int), DataFrame]

  /** Sampled vertices: (community, id) — memoized per graph/params.
    * `maxCommVertices` is the giant-community guard: communities above
    * it get their adjacency deterministically thinned before the walk
    * (see [[sampleUncached]]); communities at or below it are untouched,
    * so results are identical whenever no community exceeds the cap. */
  def sample(spark: SparkSession, g: Graph, alpha: Double = 2.0,
             lpaIters: Int = 5, seed: Long = 42L,
             maxCommVertices: Int = 1000000): DataFrame =
    cache.getOrElseUpdate((g, alpha, lpaIters, seed, maxCommVertices),
      graft.Materialize.table(
        if (Gx.belowGate(g)) csrSample(spark, g, alpha, lpaIters, seed, maxCommVertices)
        else sampleUncached(spark, g, alpha, lpaIters, seed, maxCommVertices)))

  /** Below the vertex gate: ONE community-parallel job. The LPA labels
    * (one int per [[Graph.csr]] index) are broadcast next to the CSR;
    * communities are split across at most one task per core, and each
    * task computes, per community it owns, the intra-community degrees
    * and triangles, `avg_cc` and `walk_len`, the giant-community
    * thinning and the md5-seeded walk ([[Csr.communityWalk]]) — the
    * same arithmetic as the DataFrame branch, so the same rows. */
  private def csrSample(spark: SparkSession, g: Graph, alpha: Double,
                        lpaIters: Int, seed: Long,
                        maxCommVertices: Int): DataFrame = {
    import spark.implicits._
    val comm = GraphBuilder.communityLabels(g, lpaIters)
    val nComm = if (comm.isEmpty) 0 else comm.max + 1
    val bc = g.csr
    val sc = spark.sparkContext
    val labels = sc.broadcast(comm)
    val slices = math.max(1, math.min(nComm, sc.defaultParallelism))
    sc.parallelize(0 until nComm, slices).mapPartitions { owned =>
      val c = bc.value
      val l = labels.value
      val (start, members) = Csr.groupBy(l, nComm)
      owned.flatMap { k =>
        Csr.communityWalk(c, l,
          java.util.Arrays.copyOfRange(members, start(k), start(k + 1)),
          alpha, seed, maxCommVertices).iterator.map(v => (k, v))
      }
    }.toDF("community", "id")
  }

  private def sampleUncached(spark: SparkSession, g: Graph, alpha: Double,
                             lpaIters: Int, seed: Long,
                             maxCommVertices: Int): DataFrame = {
    import spark.implicits._

    val comms = GraphBuilder.communities(spark, g, lpaIters) // (id, community)

    // intra-community edges (both endpoints same community)
    val cSrc = comms.select(col("id").as("src"), col("community").as("c1"))
    val cDst = comms.select(col("id").as("dst"), col("community").as("c2"))
    val intra = g.edges.join(cSrc, "src").join(cDst, "dst")
      .filter(col("c1") === col("c2"))
      .select(col("src"), col("dst"), col("c1").as("community"))
      .localCheckpoint(true)

    // per-community avg clustering coefficient of the induced subgraph,
    // distributed (ref: nx.average_clustering per partition, main.py:81).
    // Intra-community triangles are FILTERED from the graph's persisted
    // triangle stream (a triangle lies in the induced subgraph iff all
    // three vertices share the community) instead of re-running the
    // whole orientation+intersection pipeline on the subgraph — the
    // second pipeline measured tens of seconds at sf0.1; the filter is
    // three broadcast joins over the already-materialized enumeration.
    // (this branch runs above the vertex gate only: no broadcast)
    val triIntra = g.triangleEnumeration
      .join(comms.select(col("id").as("lo"), col("community").as("c1")), "lo")
      .join(comms.select(col("id").as("hi"), col("community").as("c2")), "hi")
      .join(comms.select(col("id").as("w"), col("community").as("c3")), "w")
      .filter(col("c1") === col("c2") && col("c2") === col("c3"))
      .select("lo", "hi", "w")
    val triPerVertex = triIntra.select(col("lo").as("id"))
      .union(triIntra.select(col("hi").as("id")))
      .union(triIntra.select(col("w").as("id")))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    val intraDeg = intra.select(col("src").as("id"))
      .union(intra.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val cc = comms.select("id")
      .join(intraDeg, Seq("id"), "left").na.fill(0L, Seq("degree"))
      .join(triPerVertex, Seq("id"), "left").na.fill(0L, Seq("triangles"))
      .select(col("id"),
        when(col("degree") >= 2,
          lit(2.0) * col("triangles") / (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)).as("clustering_coeff"))
      .localCheckpoint(true)
    val commCc = comms.join(cc, Seq("id"), "left")
      .na.fill(0.0, Seq("clustering_coeff"))
      .groupBy("community")
      // avg_cc rounded to 6dp BEFORE the length formula: double
      // summation order differs across engines (and across Spark runs'
      // partial-agg order) in the last ulp; rounding pins walk_len so
      // the whole walk is engine-portable (the SQL oracle rounds the
      // same way)
      .agg(count(lit(1)).as("n_vertices"),
        round(avg("clustering_coeff"), 6).as("avg_cc"))
      // walk length n/(1+α·cc)+1 (ref get_len main.py:51-52, main.py:89)
      .withColumn("walk_len",
        (col("n_vertices") / (lit(1.0) + lit(alpha) * col("avg_cc")))
          .cast("int") + 1)

    // ---- giant-community guard ----
    // One LPA community can concentrate a large fraction of a 100 TB
    // graph, and the walk below holds one community's adjacency in a
    // single task. Above `maxCommVertices`, deterministically thin the
    // community: keep each vertex with probability cap/n by seeded hash
    // and drop edges leaving the kept set — the walk then runs on the
    // retained, closed subgraph with bounded task memory. walk_len still
    // derives from the FULL community stats; communities at or below
    // the cap pass through untouched.
    val commSizes = commCc.select(col("community"), col("n_vertices"))
    val hashMod = 1L << 30
    def keep(c: org.apache.spark.sql.Column) =
      pmod(xxhash64(c, lit(seed)), lit(hashMod)) * col("n_vertices") <
        lit(hashMod) * lit(maxCommVertices.toLong)
    val guarded = intra.join(commSizes, "community")
      .filter(col("n_vertices") <= maxCommVertices ||
        (keep(col("src")) && keep(col("dst"))))
      .select("community", "src", "dst")

    // adjacency rows: (community, vertex, neighbors) — neighbors sorted
    // for determinism under collect_list's partition-order nondeterminism
    val sym = guarded.select(col("community"), col("src").as("v"), col("dst").as("n"))
      .union(guarded.select(col("community"), col("dst").as("v"), col("src").as("n")))
    val adj = sym.groupBy("community", "v")
      .agg(sort_array(collect_list("n")).as("neighbors"))
      .join(commCc.select("community", "walk_len"), "community")

    // one walk per community; communities are hash-distributed over
    // tasks, each task walks only the communities it owns
    val nParts = math.max(spark.sparkContext.defaultParallelism, 1)
    val sampled = adj
      .select(col("community"), col("v"), col("neighbors"), col("walk_len"))
      .repartition(nParts, col("community"))
      .mapPartitions { rows =>
        // group this task's rows by community
        val byComm = mutable.Map.empty[Int, (mutable.Map[Long, Array[Long]], Int)]
        rows.foreach { r =>
          val c = r.getInt(0)
          val entry = byComm.getOrElseUpdate(c, (mutable.Map.empty, 0))
          val adjMap = entry._1
          adjMap(r.getLong(1)) = r.getSeq[Long](2).toArray
          byComm(c) = (adjMap, r.getInt(3))
        }
        byComm.iterator.flatMap { case (c, (adjMap, walkLen)) =>
          val vertices = adjMap.keys.toArray.sorted
          // seeded start within the community (ref main.py:85). Steps
          // come from an md5-derived hash (portableChoice) instead of a
          // JVM PRNG: the identical choice sequence reproduces in plain
          // SQL, which makes the sampled set itself oracle-checkable.
          var cur = vertices(Csr.portableChoice(seed, c, 0, vertices.length))
          val visited = mutable.LinkedHashSet(cur)
          var steps = 1
          while (steps < walkLen) {
            val nbrs = adjMap(cur) // nonempty by construction (v has >= 1 intra edge)
            cur = nbrs(Csr.portableChoice(seed, c, steps, nbrs.length))
            visited += cur // LinkedHashSet dedups (ref main.py:100-103)
            steps += 1
          }
          visited.iterator.map(v => (c, v))
        }
      }.toDF("community", "id")
    sampled
  }
}
