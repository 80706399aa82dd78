package graft.operators

import graft.Tables
import graft.functions.CosineSimilarity
import graft.functions.CosineSimilarity.cosineSim
import graft.functions.TopKByScore.topK
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column.
  *
  *   - Brute-force: exact cosine top-k. Queries are broadcast, the
  *     corpus streams through ONCE, and the per-query top-k is reduced
  *     map-side by the TopKByScore aggregate — the shuffle carries only
  *     k rows per (partition, query), never the |corpus|×|queries|
  *     score matrix.
  *   - IVF: k-means-lite centroids → inverted cell index → probe the
  *     nProbe nearest cells per query. The scale path: search cost drops
  *     by ~|cells|/nProbe; cells are the partitioning key, so a cluster
  *     co-locates each cell's vectors.
  */
object Ann {

  /** Default query set: a small deterministic slice of the corpus. */
  private[graft] def queriesOf(emb: DataFrame, nQueries: Int): DataFrame =
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** Micro-int quantization: value × 10⁶ rounded to a long. Sums of
    * micro-ints are EXACT and order-free in every engine — the fix for
    * a real observed flake where parallel double summation shifted a
    * centroid mean across its 6-dp rounding boundary between two runs
    * of the SAME oracle. Every centroid mean (and the whole PQ
    * distance/LUT pipeline) now runs on micro-ints.
    *
    * Companion rule — round micro QUOTIENTS at scale 0, never at 1e-6
    * scale: centroid means are `round(S/n).cast(long) / 1e6`, NOT
    * `round(S/(n·1e6), 6)`. At an exact decimal tie (observed: S/n =
    * 63592.5 micro in the IVF-PQ residual codebook) the scale-0 tie
    * value k.5 is exactly representable, so Spark and DuckDB agree
    * (both round away from zero); the 1e-6-scale tie x.5e-6 is NOT
    * representable, and the engines land on opposite sides — Spark's
    * round() rounds the shortest-decimal string of the double (up),
    * DuckDB rounds the binary value (down). */
  private[graft] def micro(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c.cast("double") * 1e6).cast("long")

  /** [[micro]] on the driver or in a task: the same double product,
    * rounded half away from zero as Spark's round() rounds a finite
    * double at scale 0 (AnnSpec pins it equal to [[micro]]). */
  private[graft] def microOf(f: Float): Long = roundHalfAway(f.toDouble * 1e6)

  /** Half away from zero, exact for every finite double (floor(d + 0.5)
    * is not: 0.49999999999999994 + 0.5 rounds up to 1.0). */
  private def roundHalfAway(d: Double): Long =
    if (d < 0) -Math.round(-d) else Math.round(d)

  /** Exact cosine top-k. Output: (query_id, rank, neighbor_id, sim). */
  /** Per-label mean embedding (class centroids — the aggregation step
    * of semantic dedup / cluster-based data mixing), long-form
    * (label, dim, centroid, n_vecs) so results stay hash-comparable
    * across engines without array-column ordering issues.
    *
    * Scale shape: posexplode is map-side (×dim rows, no shuffle); ONE
    * map-side-combined groupBy keyed (label, dim) — state is
    * labels×dim running (sum, count) pairs per partition, independent
    * of corpus size. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg((round(sum(micro(col("v"))) / (count(lit(1)) * 1.0)).cast("long")
        / 1e6).as("centroid"),
        count(lit(1)).as("n_vecs"))
      .orderBy("label", "dim")

  /** Nearest-centroid classification + confusion matrix: every vector
    * assigned to its cosine-nearest LABEL centroid (the class-centroid
    * aggregation of [[labelCentroids]]), cross-tabulated against the
    * true label — the evaluation step of centroid-based semantic
    * mixing/classification. Centroid means round to 6 dp then pin
    * through float (same portability move as the k-means pipelines).
    *
    * Scale shape: centroids are a labels×dim broadcast; the corpus
    * streams once through the scoring crossJoin; the per-vector argmax
    * is a max-struct aggregate (ties → larger label, same convention
    * as assignCells); the confusion matrix is a labels² groupBy. */
  def centroidAssign(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val cents = emb
      .select(col("label").as("clabel"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("clabel", "dim")
      .agg((round(sum(micro(col("v"))) / (count(lit(1)) * 1.0)).cast("long")
        / 1e6).as("m"))
      .groupBy("clabel")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m").cast("float")).as("cvec"))
    emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"),
        struct(cosineSim(col("embedding"), col("cvec")).as("sim"),
          col("clabel")).as("sc"))
      .groupBy("vec_id", "label")
      .agg(max("sc").as("best"))
      .groupBy(col("label"), col("best.clabel").as("assigned_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "assigned_label")
  }

  /** FILTERED vector search, exact pre-filter baseline — the
    * metadata-predicate + vector-similarity combination every vector
    * store ships (multi-tenant search, per-category retrieval): per
    * query, top-k cosine among ONLY the vectors whose label matches
    * the query's own label, self excluded. The filter applies BEFORE
    * any distance is computed (pre-filter SEMANTICS: no qualifying
    * result is ever post-dropped), so the result is exact at any
    * selectivity, including labels with fewer than k members (short
    * result lists, never padding — a consumer reading exactly k rows
    * per query would mis-join; AnnSpec pins the short-list case).
    * This baseline still SCANS the whole corpus and filters rows
    * before scoring — the production rung that prunes the scan itself
    * is [[knnFilteredIvf]] (predicate inside the probed IVF cells).
    * Same broadcast-queries + map-side bounded top-k shape as
    * [[knnBrute]] — k·|queries| state, no score matrix. */
  def knnFiltered(spark: SparkSession, dir: String,
                  nQueries: Int = 20, k: Int = 10): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val q = broadcast(queriesOf(emb, nQueries)
      .join(emb.select(col("vec_id").as("query_id"),
        col("label").as("q_label")), "query_id"))
    emb.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id") &&
        col("label") === col("q_label"))
      .select(col("query_id"), col("q_label"), col("vec_id"),
        cosineSim(col("q_emb"), col("embedding")).as("sim"))
      .groupBy("query_id", "q_label")
      .agg(topK(col("vec_id"), col("sim"), k).as("nn"))
      .select(col("query_id"), col("q_label").as("label"),
        posexplode(col("nn")).as(Seq("rank0", "nn")))
      .select(col("query_id"), col("label"), (col("rank0") + 1).as("rank"),
        col("nn.neighbor_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** INDEXED filtered vector search — the production rung above the
    * exact [[knnFiltered]] baseline (r11, VERDICT r10 "Next #3"): the
    * label predicate is pushed INSIDE the IVF cell scan, so per query
    * only the nProbe probed cells' members are touched and
    * non-matching members are dropped BEFORE any full-vector distance
    * is computed. Semantics stay pre-filter (no qualifying candidate
    * is post-dropped within the probed cells; thin labels yield short
    * lists), accuracy is the usual IVF partition loss — measured by
    * comparing against [[knnFiltered]], with [[filteredRecall]]'s
    * curve quantifying the alternative (post-filter over-fetch) this
    * design avoids.
    *
    * Scale shape: with the persisted index ([[AnnIndex]]) the cell is
    * the STORAGE partition, so the probe is a directory prune and the
    * label filter rides the parquet scan of nProbe/cells of the
    * corpus; here the session index serves the same plan from the
    * cell-keyed memo. Scoring is the [[knnBrute]] map-side bounded
    * top-k — k·|queries| state. */
  def knnFilteredIvf(spark: SparkSession, dir: String,
                     nQueries: Int = 20, k: Int = 10,
                     cells: Int = 16, nProbe: Int = 4): DataFrame = {
    val (emb, centroids, _, index) = ivfIndex(spark, dir, cells)
    val q = queriesOf(emb, nQueries)
      .join(emb.select(col("vec_id").as("query_id"),
        col("label").as("q_label")), "query_id")
    // broadcast probe list against the cell-keyed member leaf — same
    // shuffle-free scan shape as knnIvf (r11)
    val probes = broadcast(q.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("q_label"), col("q_emb"), col("cell"),
        cosineSim(col("q_emb"), col("centroid")).as("csim"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("csim").desc, col("cell").asc)))
      .filter(col("rk") <= nProbe)
      .select("query_id", "q_label", "q_emb", "cell"))
    probes.join(index, "cell")
      .filter(col("vec_id") =!= col("query_id") &&
        col("label") === col("q_label"))
      .select(col("query_id"), col("q_label"), col("vec_id"),
        cosineSim(col("q_emb"), col("embedding")).as("sim"))
      .groupBy("query_id", "q_label")
      .agg(topK(col("vec_id"), col("sim"), k).as("nn"))
      .select(col("query_id"), col("q_label").as("label"),
        posexplode(col("nn")).as(Seq("rank0", "nn")))
      .select(col("query_id"), col("label"), (col("rank0") + 1).as("rank"),
        col("nn.neighbor_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** Per-query recall of the INDEXED filtered search against the exact
    * pre-filter baseline — the accuracy sheet of [[knnFilteredIvf]]
    * (partition loss under a predicate; thin labels shrink the
    * denominator to the DATA's true-list size, never k·|queries|).
    * Both sides ride their memoized/trained pipelines; the compare is
    * a k·|queries|-row left join. The rate is the scale-0 ×10⁴
    * micro-quotient (the filteredRecall convention). */
  def filteredIvfRecall(spark: SparkSession, dir: String,
                        nQueries: Int = 20, k: Int = 10): DataFrame = {
    val exact = knnFiltered(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val idx = knnFilteredIvf(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    exact.join(idx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_true"),
        count(col("hit")).as("n_hits"),
        round(count(col("hit")) * 10000.0 / count(lit(1))).cast("long")
          .as("recall_per_10k"))
      .orderBy("query_id")
  }

  /** IVF cell-occupancy report — the index-health number every ANN
    * deployment watches (a cell holding half the corpus means the
    * coarse quantizer needs retraining or the cell needs splitting;
    * at 100 TB cell sizes ARE the storage-partition sizes, so this is
    * also the layout-skew report): per cell, member count and corpus
    * share in exact ×10⁴ units. Rides the shared trained index; one
    * |cells|-row aggregate. */
  def cellSizes(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, assigned, _) = ivfIndex(spark, dir)
    val t = broadcast(assigned.agg(count(lit(1)).as("t")))
    assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .crossJoin(t)
      .select(col("cell"), col("n_vecs"),
        round(col("n_vecs") * 10000.0 / col("t")).cast("long")
          .as("share_per_10k"))
      .orderBy("cell")
  }

  /** The POST-filter recall-loss curve — the number that decides the
    * over-fetch factor in every filtered-ANN deployment: retrieving
    * the UNFILTERED top-`fetch_k` and then dropping non-matching
    * labels loses exactly the true filtered neighbors that sit below
    * rank fetch_k. Per fetch_k ∈ {k, 2k, 4k, 8k}: how many of the true
    * pre-filter top-k (the [[knnFiltered]] result) survive, as an
    * exact per-10k rate against the true list size (which is < k for
    * thin labels — the denominator is the data's, not k·|queries|).
    * One scored table serves the true list and the over-fetch list;
    * all counting is exact integers, the rate a scale-0 micro-quotient
    * round. */
  def filteredRecall(spark: SparkSession, dir: String,
                     nQueries: Int = 20, k: Int = 10): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val q = broadcast(queriesOf(emb, nQueries)
      .join(emb.select(col("vec_id").as("query_id"),
        col("label").as("q_label")), "query_id"))
    val fetches = Seq(k, 2 * k, 4 * k, 8 * k)
    val scope = new graft.Materialize.Scoped
    val scored = scope.table(emb.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (col("label") === col("q_label")).as("match"),
        cosineSim(col("q_emb"), col("embedding")).as("sim")))
    val trueTop = scored.filter(col("match"))
      .groupBy("query_id")
      .agg(topK(col("vec_id"), col("sim"), k).as("nn"))
      .select(col("query_id"), explode(col("nn")).as("nn"))
      .select(col("query_id"), col("nn.neighbor_id").as("neighbor_id"))
    val unf = scored
      .groupBy("query_id")
      .agg(topK(col("vec_id"), col("sim"), fetches.max).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("rank0", "nn")))
      .select(col("query_id"), (col("rank0") + 1).as("rank"),
        col("nn.neighbor_id").as("neighbor_id"))
    val joined = trueTop
      .join(unf, Seq("query_id", "neighbor_id"), "left")
    val aggCols = count(lit(1)).as("total") +: fetches.map(f =>
      sum(when(col("rank") <= f, 1L).otherwise(0L)).as(s"h$f"))
    val agg = joined.agg(aggCols.head, aggCols.tail: _*)
    val row = scope.seal(agg).head()
    val total = row.getLong(0)
    import spark.implicits._
    // no query has a same-label neighbor ⇒ the sum aggregates are null
    // and the recall quotient is 0/0: report the zero-hit curve
    // explicitly instead of NPE-ing on getLong (ADVICE r10)
    fetches.zipWithIndex.map { case (f, i) =>
      val hits = if (total == 0L) 0L else row.getLong(i + 1)
      (f, hits, if (total == 0L) 0L else math.round(hits * 10000.0 / total))
    }.toDF("fetch_k", "hits", "recall_per_10k")
      .orderBy("fetch_k")
  }

  def knnBrute(spark: SparkSession, dir: String,
               nQueries: Int = 20, k: Int = 10): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val q = broadcast(queriesOf(emb, nQueries))
    emb.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineSim(col("q_emb"), col("embedding")).as("sim"))
      .groupBy("query_id")
      .agg(topK(col("vec_id"), col("sim"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("rank0", "nn")))
      .select(col("query_id"), (col("rank0") + 1).as("rank"),
        col("nn.neighbor_id").as("neighbor_id"),
        round(col("nn.score"), 6).as("sim"))
  }

  /** K-means-lite coarse quantizer: deterministic init (the vectors
    * with vec_id < `cells`, cell = vec_id), then `iters` Lloyd rounds
    * ([[lloydRound]], one Spark job each). Returns a local table
    * (cell, centroid: array<float>), sorted by cell.
    *
    * Each round's means are micro-int sums rounded at scale 0 and
    * pinned through float (see [[micro]]): the sums are exact and
    * order-free, so every centroid — hence every assignment, probe and
    * neighbor ranking — is the value any engine reproduces, which is
    * what makes e_knn_ivf DuckDB-oracle-checkable (the oracle runs the
    * same rounds as SQL aggregates). */
  def kmeansCentroids(emb: DataFrame, cells: Int = 16, iters: Int = 3): DataFrame =
    centroidTable(emb.sparkSession, trainCentroids(emb, cells, iters))

  /** [[kmeansCentroids]] on the driver: (cell, centroid) sorted by cell. */
  private def trainCentroids(emb: DataFrame, cells: Int, iters: Int)
      : Array[(Int, Array[Float])] = {
    var cents = emb.filter(col("vec_id") < cells && col("embedding").isNotNull)
      .select(col("vec_id").cast("int"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val vecs = org.apache.spark.sql.graft.Bridge.internalRows(
      emb.select(col("embedding")))
    for (_ <- 1 to iters if cents.nonEmpty) cents = lloydRound(vecs, cents)
    cents
  }

  /** One Lloyd round as ONE Spark job. The centroid array is broadcast;
    * each task assigns every vector to its nearest centroid — largest
    * (cosine, cell), so ties go to the larger cell — and adds the
    * vector's [[microOf]] elements into per-(cell, position) sums and
    * counts ([[CellSums]]); the driver adds the tasks' arrays and takes
    * the means. A cell that loses every member drops out. Per task the
    * state is cells·dim longs, whatever the corpus size. */
  private def lloydRound(vecs: RDD[InternalRow], cents: Array[(Int, Array[Float])])
      : Array[(Int, Array[Float])] = {
    // slot = rank of the cell id, so comparing slots compares cells and
    // duplicate init ids share one slot
    val ids = cents.map(_._1).distinct.sorted
    val slots = cents.map(c => java.util.Arrays.binarySearch(ids, c._1))
    val bc = vecs.sparkContext.broadcast(cents.map(_._2))
    val total = vecs.mapPartitions { rows =>
      val cs = bc.value.map(ArrayData.toArrayData)
      val acc = new CellSums(ids.length)
      rows.foreach { r =>
        if (!r.isNullAt(0)) {
          val x = r.getArray(0)
          var best = 0
          var bestSim = CosineSimilarity.compute(x, cs(0))
          var j = 1
          while (j < cs.length) {
            val s = CosineSimilarity.compute(x, cs(j))
            val c = SQLOrderingUtil.compareDoubles(s, bestSim)
            if (c > 0 || (c == 0 && slots(j) > slots(best))) {
              best = j
              bestSim = s
            }
            j += 1
          }
          acc.add(slots(best), x)
        }
      }
      Iterator.single(acc)
    }.reduce(_ merge _)
    bc.destroy()
    ids.indices.filter(c => total.sums(c).nonEmpty).map { c =>
      (ids(c), Array.tabulate[Float](total.sums(c).length)(i =>
        (roundHalfAway(total.sums(c)(i).toDouble / total.counts(c)(i).toDouble)
          / 1e6).toFloat))
    }.toArray
  }

  /** Per-(cell, position) micro-int sums and member counts of one Lloyd
    * round. A cell's arrays grow to its longest member, so a position
    * counts only the members that have it, as a per-(cell, pos) group
    * does. Sums stay below 2⁶³ for any corpus under ~10¹² unit-scale
    * vectors. */
  private final class CellSums(cells: Int) extends Serializable {
    val sums: Array[Array[Long]] = Array.fill(cells)(Array.emptyLongArray)
    val counts: Array[Array[Long]] = Array.fill(cells)(Array.emptyLongArray)

    private def grow(c: Int, len: Int): Unit =
      if (sums(c).length < len) {
        sums(c) = java.util.Arrays.copyOf(sums(c), len)
        counts(c) = java.util.Arrays.copyOf(counts(c), len)
      }

    def add(c: Int, x: ArrayData): Unit = {
      val n = x.numElements()
      grow(c, n)
      var i = 0
      while (i < n) {
        sums(c)(i) += microOf(x.getFloat(i))
        counts(c)(i) += 1L
        i += 1
      }
    }

    def merge(o: CellSums): CellSums = {
      for (c <- sums.indices) {
        grow(c, o.sums(c).length)
        for (i <- o.sums(c).indices) {
          sums(c)(i) += o.sums(c)(i)
          counts(c)(i) += o.counts(c)(i)
        }
      }
      this
    }
  }

  private def centroidTable(spark: SparkSession,
                            cents: Array[(Int, Array[Float])]): DataFrame = {
    import spark.implicits._
    cents.toSeq.toDF("cell", "centroid")
  }

  /** Cell counts up to which nearest-centroid assignment ([[assignCells]]
    * and the [[ivfIndex]] member build) runs as ONE row-local
    * greatest(struct) expression over centroid literals (zero shuffle —
    * the [[graft.streaming.EventStreams]] semantic-probe pattern); PQ
    * code assignment gates on codebook entries the same way. Wider
    * quantizers keep the broadcast crossJoin + max aggregation, whose
    * cost is a |corpus|·cells shuffle but whose expression size is
    * O(1). */
  @volatile private[graft] var LiteralAssignMaxCells = 256

  private def bestCellLiteral(cents: Array[(Int, Seq[Float])],
                              emb: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    if (cents.isEmpty) lit(null).cast("int")
    else if (cents.length == 1) lit(cents.head._1)
    else greatest(cents.map { case (c, v) =>
      struct(cosineSim(emb, typedLit(v)).as("sim"), lit(c).as("cell"))
    }.toIndexedSeq: _*).getField("cell")

  /** (vec_id, cell, `carry`…): every vector of `emb` with its nearest
    * centroid's cell, by the row-local literal pick. No centroid, no
    * row. */
  private def literalCells(emb: DataFrame, cents: Array[(Int, Seq[Float])],
                           carry: Seq[String]): DataFrame =
    emb.where(lit(cents.nonEmpty))
      .select(col("vec_id") +: bestCellLiteral(cents, col("embedding")).as("cell")
        +: carry.map(col): _*)

  /** Nearest-centroid assignment: (vec_id, cell). Same (sim, cell)
    * struct-max semantics on both paths; the literal path (bounded
    * cell count — every shipped index: 16) is map-side with NO
    * aggregation, so an assignment over N vectors is one scan. */
  def assignCells(emb: DataFrame, centroids: DataFrame): DataFrame = {
    // count-gate FIRST: collecting the centroid table to decide would
    // ship a 2^16-cell quantizer (~tens of MB) to the driver only to
    // discard it for the broadcast path. limit(gate+1).count() answers
    // the gate with a cheap action; rows are collected only when the
    // literal path is taken.
    val nCells = centroids.limit(LiteralAssignMaxCells + 1).count()
    if (nCells <= LiteralAssignMaxCells)
      literalCells(emb, centroids.select("cell", "centroid").collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1))), Nil)
    else
      emb.crossJoin(broadcast(centroids))
        .select(col("vec_id"),
          struct(cosineSim(col("embedding"), col("centroid")).as("sim"),
            col("cell")).as("sc"))
        .groupBy("vec_id")
        .agg(max("sc").as("best"))
        .select(col("vec_id"), col("best.cell").as("cell"))
  }

  /** One trained IVF index per (session, dir): the embedding scan, the
    * converged centroids (a local table), the cell assignments and the
    * cell-keyed member table (vec_id, cell, embedding, label, …) —
    * shared by [[knnIvf]], [[knnFilteredIvf]], [[knnGraph]],
    * [[semanticDedup]], [[cellSizes]], the probe sweeps and the IVF-PQ
    * index, so training runs once however many consumers probe it.
    *
    * `members` is the ONE persisted table, a [[graft.Materialize.table]]
    * plan leaf (a raw persist would embed the build's lineage in every
    * consumer plan — the nested-memo stall, see Materialize). It is the
    * inverted index: at 100 TB this table IS the stored cell-keyed IVF
    * layout ([[AnnIndex]] persists exactly it). `assigned` is its
    * (vec_id, cell) projection. The corpus is not pinned: training reads
    * it once per Lloyd round and the member build once more, and the
    * only later emb readers are the vec_id < nQueries query slices. */
  private val ivfCache =
    scala.collection.concurrent.TrieMap.empty[String, (DataFrame, DataFrame, DataFrame, DataFrame)]

  private[graft] def ivfIndex(spark: SparkSession, dir: String,
                       cells: Int = 16): (DataFrame, DataFrame, DataFrame, DataFrame) =
    ivfCache.getOrElseUpdate(s"${graft.GraftSession.sessionKey(spark, dir)}#$cells", {
      val emb = Tables(spark, dir).embeddings
      val cents = trainCentroids(emb, cells, iters = 3)
      val centroids = centroidTable(spark, cents)
      // same columns, in the same order, as assigned.join(emb, "vec_id")
      val carry = emb.columns.filter(_ != "vec_id").toSeq
      val members = graft.Materialize.table(
        if (cents.length <= LiteralAssignMaxCells)
          literalCells(emb, cents.map { case (c, v) => (c, v.toSeq) }, carry)
        else
          assignCells(emb, centroids).join(emb, "vec_id"))
      (emb, centroids, members.select("vec_id", "cell"), members)
    })

  /** IVF ANN: probe the `nProbe` nearest cells per query.
    * Output shape identical to [[knnBrute]]. */
  def knnIvf(spark: SparkSession, dir: String, nQueries: Int = 20, k: Int = 10,
             cells: Int = 16, nProbe: Int = 4): DataFrame = {
    val (emb, centroids, _, index) = ivfIndex(spark, dir, cells)
    val q = queriesOf(emb, nQueries)
    // the probe list is |queries|·nProbe rows — broadcast it so the
    // cell-keyed member table streams with NO shuffle (the production
    // shape: query batch broadcast against the stored IVF layout; the
    // un-hinted plan sort-merge-joined on cell, shuffling the corpus)
    val probes = broadcast(q.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("q_emb"), col("cell"),
        cosineSim(col("q_emb"), col("centroid")).as("csim"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("csim").desc, col("cell").asc)))
      .filter(col("rk") <= nProbe)
      .select("query_id", "q_emb", "cell"))
    probes.join(index, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineSim(col("q_emb"), col("embedding")).as("sim"))
      .groupBy("query_id")
      .agg(topK(col("vec_id"), col("sim"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("rank0", "nn")))
      .select(col("query_id"), (col("rank0") + 1).as("rank"),
        col("nn.neighbor_id").as("neighbor_id"),
        round(col("nn.score"), 6).as("sim"))
  }

  /** Approximate kNN GRAPH over the whole corpus via the shared trained
    * IVF index: every vector's top-k cosine neighbors searched WITHIN
    * its own cell — the all-pairs analog of [[knnIvf]] and the
    * initialization step of graph-ANN methods (NN-Descent / HNSW
    * bootstrap); downstream it feeds embedding-cluster analysis the
    * same way the LSH pair graph feeds near-dup clustering.
    *
    * Scale shape: the candidate join is CELL-keyed — Σ C(|cell|,2)
    * pairs, bounded by scaling the cell count with the corpus (never
    * |D|²); top-k is a map-side bounded TypedImperativeAggregate. One
    * training run serves knnIvf, semanticDedup and this graph. */
  /** Recall report: how much of the exact brute-force top-k the IVF
    * probe recovers, per query — the accuracy/cost dial every ANN
    * deployment tunes (nProbe up ⇒ recall up, search cost up). Both
    * sides ride their memoized pipelines (broadcast-query brute pass,
    * trained IVF index); the compare is a (query, neighbor)-keyed
    * left join of two k·|queries|-row frames — negligible at any
    * scale. */
  def ivfRecall(spark: SparkSession, dir: String,
                nQueries: Int = 20, k: Int = 10): DataFrame = {
    val brute = knnBrute(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val ivf = knnIvf(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    brute.join(ivf, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_hits"),
        round(count(col("hit")) / (k * 1.0), 4).as(s"recall_at_$k"))
      .orderBy("query_id")
  }

  /** Recall@k of the PQ-compressed ranking against exact brute-force
    * cosine — the companion report to [[ivfRecall]], closing the ANN
    * evaluation pair (quantization loss vs partitioning loss). */
  def pqRecall(spark: SparkSession, dir: String,
               nQueries: Int = 20, k: Int = 10): DataFrame = {
    val brute = knnBrute(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val pq = knnPq(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    brute.join(pq, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_hits"),
        round(count(col("hit")) / (k * 1.0), 4).as(s"recall_at_$k"))
      .orderBy("query_id")
  }

  /** SQ8 scalar quantization: each dimension linearly quantized to an
    * 8-bit code against the corpus per-dim [min, max] — the standard
    * 4×-memory-reduction ANN trick (FAISS ScalarQuantizer): at scale
    * the 1-byte-per-dim code table replaces the float corpus in the
    * scan, like the PQ code table but with per-dim fidelity instead of
    * subspace centroids. Returns the DEQUANTIZED corpus
    * (vec_id, dvec: array<float>) — what an SQ index scores against.
    *
    * Portability: min/max are order-free exact; codes and dequantized
    * values are single double expressions of them, 6-dp-rounded and
    * pinned through float (the centroid move) — the SQL oracle replays
    * them exactly. The per-dim stats are ONE tiny broadcast row; the
    * transform is map-side over the corpus scan. */
  /** Memoized per (session, dir): the decoded table feeds knnSq from
    * BOTH e_knn_sq and e_sq_recall — one stats pass + projection,
    * not three. */
  private val sqCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  def sqDecoded(spark: SparkSession, dir: String): DataFrame =
    sqCache.getOrElseUpdate(graft.GraftSession.sessionKey(spark, dir), {
      graft.Materialize.table(sqDecodedPlan(spark, dir))
    })

  private[graft] def sqDecodedPlan(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val st = emb.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
    val b = broadcast(st.groupBy().agg(
      transform(array_sort(collect_list(struct(col("i"), col("mn")))),
        s => s.getField("mn").cast("double")).as("mns"),
      transform(array_sort(collect_list(struct(col("i"), col("mx")))),
        s => s.getField("mx").cast("double")).as("mxs")))
    emb.crossJoin(b).select(col("vec_id"),
      transform(col("embedding"), (x, i) => {
        val mn = get(col("mns"), i)
        val mx = get(col("mxs"), i)
        val code = when(mx === mn, lit(0)).otherwise(
          round((x.cast("double") - mn) * 255.0 / (mx - mn)).cast("int"))
        round(mn + code.cast("double") * (mx - mn) / 255.0, 6).cast("float")
      }).as("dvec"))
  }

  /** Brute-force cosine top-k over the SQ8-dequantized corpus — the
    * scoring path of an SQ index (same shape as [[knnBrute]]; the
    * native compiled cosine stays the hot loop). */
  def knnSq(spark: SparkSession, dir: String,
            nQueries: Int = 20, k: Int = 10): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val q = broadcast(queriesOf(emb, nQueries))
    sqDecoded(spark, dir).crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineSim(col("q_emb"), col("dvec")).as("sim"))
      .groupBy("query_id")
      .agg(topK(col("vec_id"), col("sim"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("rank0", "nn")))
      .select(col("query_id"), (col("rank0") + 1).as("rank"),
        col("nn.neighbor_id").as("neighbor_id"),
        round(col("nn.score"), 6).as("sim"))
  }

  /** recall@k of SQ8 quantized search vs exact brute force — completes
    * the quantization evaluation pair (PQ subspace codes vs SQ per-dim
    * codes) the way [[pqRecall]]/ivfRecall do for their indexes. */
  def sqRecall(spark: SparkSession, dir: String,
               nQueries: Int = 20, k: Int = 10): DataFrame = {
    val brute = knnBrute(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val sq = knnSq(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    brute.join(sq, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_hits"),
        round(count(col("hit")) / (k * 1.0), 4).as(s"recall_at_$k"))
      .orderBy("query_id")
  }

  def knnGraph(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val (_, _, _, members) = ivfIndex(spark, dir)
    val l = members.select(col("cell"), col("vec_id").as("a"),
      col("embedding").as("ea"))
    val r = members.select(col("cell"), col("vec_id").as("b"),
      col("embedding").as("eb"))
    l.join(r, "cell").filter(col("a") =!= col("b"))
      .select(col("a"), col("b"), cosineSim(col("ea"), col("eb")).as("sim"))
      .groupBy("a").agg(topK(col("b"), col("sim"), k).as("nn"))
      .select(col("a").as("vec_id"), posexplode(col("nn")).as(Seq("rank0", "nn")))
      .select(col("vec_id"), (col("rank0") + 1).as("rank"),
        col("nn.neighbor_id").as("neighbor_id"))
      .orderBy("vec_id", "rank")
  }

  /** ONE NN-Descent round (Dong et al. 2011, "Efficient k-nearest
    * neighbor graph construction for generic similarity measures") on
    * top of [[knnGraph]] — the standard fix for the cell-local
    * ceiling: a vector's true neighbor in ANOTHER IVF cell is
    * unreachable to the within-cell graph at any nProbe, but it is
    * usually a neighbor-of-a-neighbor, so one round of "compare every
    * pair that shares a current neighbor" lifts cross-cell recall
    * without ever scoring |V|² pairs.
    *
    * Init = the cell-local graph ∪ `seedsPerVec` PSEUDO-RANDOM edges
    * per vector (md5("nnd:v:s") mod (n−1), self-skipping — the same
    * engine-portable coin as the walk/percolation pipelines, so the
    * whole refinement stays DuckDB-oracle-checkable). The random
    * edges are what let the round ESCAPE the cells: the cell-local
    * graph is cell-partitioned, so its co-neighbors are all
    * cell-mates and a round over it alone would re-rank the same
    * candidates (measured: identical recall). This is NN-Descent's
    * actual design — random init graph, converge by co-neighbor
    * comparison.
    *
    * Round shape: undirected current graph L (edges both ways, ≤
    * 2(k+r)|V| rows) → candidate pairs = co-neighbors (both endpoints
    * in some L(v) — a self-join on the center, Σ|L(v)|² ≤ 4(k+r)²|V|
    * rows) ∪ the current edges → exact cosine on the DISTINCT
    * candidates → top-k per vertex. Volume is (k+r)²-bounded per
    * vertex by construction (AnnSpec asserts the bound and the recall
    * lift on the real embeddings); everything is equi-joins on vertex
    * ids, so the plan shuffles candidate rows, never embeddings ×
    * embeddings. */
  def knnGraphRefined(spark: SparkSession, dir: String, k: Int = 5,
                      rounds: Int = 1, seedsPerVec: Int = 3): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    var graph = nnDescentInitGraph(spark, dir, k, seedsPerVec)
    var ranked: DataFrame = null
    for (_ <- 1 to rounds) {
      val scored = nnDescentCandidates(graph)
        .join(emb.select(col("vec_id").as("a"), col("embedding").as("ea")), "a")
        .join(emb.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
        .select(col("a"), col("b"), cosineSim(col("ea"), col("eb")).as("sim"))
      ranked = scored.groupBy("a").agg(topK(col("b"), col("sim"), k).as("nn"))
        .select(col("a").as("vec_id"),
          posexplode(col("nn")).as(Seq("rank0", "nn")))
        .select(col("vec_id"), (col("rank0") + 1).as("rank"),
          col("nn.neighbor_id").as("neighbor_id"))
      graph = ranked.select(col("vec_id").as("a"), col("neighbor_id").as("b"))
    }
    ranked.orderBy("vec_id", "rank")
  }

  /** The NN-Descent init graph: cell-local top-k edges ∪ the
    * md5-coin pseudo-random seed edges. */
  private[graft] def nnDescentInitGraph(spark: SparkSession, dir: String,
                                        k: Int, seedsPerVec: Int): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val n = emb.count()
    val m = conv(substring(md5(concat_ws(":",
      lit("nnd"), col("a"), col("s"))), 1, 7), 16, 10)
      .cast("long") % (n - 1)
    val seeds = emb.select(col("vec_id").as("a"))
      .select(col("a"), explode(array(
        (1 to seedsPerVec).map(lit): _*)).as("s"))
      .select(col("a"),
        when(m >= col("a"), m + 1).otherwise(m).as("b"))
    knnGraph(spark, dir, k)
      .select(col("vec_id").as("a"), col("neighbor_id").as("b"))
      .union(seeds)
  }

  /** The refinement round's candidate pairs for a given current graph
    * — exposed so AnnSpec can assert the ≤ 4(k+r)²|V| volume bound the
    * scaladoc claims. */
  private[graft] def nnDescentCandidates(graph: DataFrame): DataFrame = {
    val und = graph
      .union(graph.select(col("b").as("a"), col("a").as("b")))
      .distinct()
    und.select(col("a").as("v"), col("b").as("x"))
      .join(und.select(col("a").as("v"), col("b").as("y")), "v")
      .filter(col("x") =!= col("y"))
      .select(col("x").as("a"), col("y").as("b"))
      .union(und)
      .distinct()
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus embeddings (k-means, the
    * SAME portable trained index as [[knnIvf]]), then compare pairs
    * only WITHIN a cluster — a document is dropped when a lower-id
    * member of its cluster is cosine-similar above `threshold`.
    * Output: one row per vector — (vec_id, cell, dup_of, keep), where
    * dup_of is the smallest qualifying lower id (null when kept).
    *
    * Scale shape: the pairwise stage is cell-keyed — cost is
    * Σ C(|cell|,2), bounded by growing the cell count with the corpus
    * (|cell| ≈ |D|/cells stays constant; that is SemDeDup's design),
    * never the |D|² matrix. Training is shared with knnIvf; the join
    * ships (cell, id, embedding) rows partitioned by cell, so a
    * cluster co-locates each cell. */
  def semanticDedup(spark: SparkSession, dir: String,
                    threshold: Double = 0.35): DataFrame = {
    val (_, _, assigned, members) = ivfIndex(spark, dir)
    val l = members.select(col("cell"), col("vec_id").as("a"), col("embedding").as("ea"))
    val r = members.select(col("cell"), col("vec_id").as("b"), col("embedding").as("eb"))
    val dupOf = l.join(r, Seq("cell"))
      .filter(col("a") < col("b"))
      .filter(cosineSim(col("ea"), col("eb")) >= threshold)
      .groupBy(col("b").as("vec_id"))
      .agg(min(col("a")).as("dup_of"))
    assigned.join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
      .orderBy("vec_id")
  }

  /** Product-quantization codebooks: the embedding is split into `m`
    * subspaces and each subspace gets its own K-code codebook (Jégou
    * et al. 2011, "Product quantization for nearest neighbor search").
    * Returns (m, code, centroid: array<float>). Same deterministic
    * init (first K vectors' slices) and per-round 6-dp mean rounding
    * as [[kmeansCentroids]], so training reproduces on any engine.
    * Assignment metric is L2 on the subvector (the PQ standard),
    * ties → smaller code. */
  def pqCodebooks(emb: DataFrame, m: Int = 4, codes: Int = 16,
                  iters: Int = 2, dim: Int = 64): DataFrame = {
    val sub = dim / m
    // (vec_id, m, sv): the corpus as M subvectors per row, built by
    // native slice — map-side only
    val subvecs = emb.select(col("vec_id"), posexplode(
      array((0 until m).map(i =>
        slice(col("embedding"), i * sub + 1, sub)): _*)).as(Seq("m", "sv")))
    var cb = subvecs.filter(col("vec_id") < codes)
      .select(col("m"), col("vec_id").cast("int").as("code"),
        col("sv").as("centroid"))
    // each iteration collects the (m·codes tiny) codebook WITH its
    // micro longs (through Spark's own micro()) and assigns codes as a
    // row-local least(struct) over literals, feeding the mean pass
    // directly: no per-round |corpus|·codes argmin shuffle and no
    // assigned⋈subvecs re-join. Gated on m·codes (expression width).
    if (m * codes <= LiteralAssignMaxCells) {
      for (_ <- 1 to iters) {
        val lits = collectCodebookMicro(cb)
        // two selects: Spark's generator extraction re-resolves sibling
        // expressions and drops struct field aliases (FIELD_NOT_FOUND
        // on the getField) when the pick shares a select with posexplode.
        // svi is projected ONCE (r12, ADVICE — same hoist as
        // assignPqCodes) and carried into the mean pass: its elements
        // ARE micro(x), so summing them is bit-identical to the former
        // sum(micro(x)) over the float array.
        cb = subvecs
          .withColumn("svi", transform(col("sv"), micro(_)))
          .select(col("m"), bestCodeLiteral(lits, col("svi")).as("code"),
            col("svi"))
          .select(col("m"), col("code"),
            posexplode(col("svi")).as(Seq("pos", "xi")))
          .groupBy("m", "code", "pos")
          .agg((round(sum(col("xi")) / (count(lit(1)) * 1.0)).cast("long")
            / 1e6).as("mean"))
          .groupBy("m", "code")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
            s => s.getField("mean").cast("float")).as("centroid"))
      }
    } else {
      for (_ <- 1 to iters) {
        val assignedCodes = assignPqCodes(subvecs, cb)
        cb = assignedCodes
          .join(subvecs, Seq("vec_id", "m"))
          .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
          .groupBy("m", "code", "pos")
          .agg((round(sum(micro(col("x"))) / (count(lit(1)) * 1.0)).cast("long")
            / 1e6).as("mean"))
          .groupBy("m", "code")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
            s => s.getField("mean").cast("float")).as("centroid"))
      }
    }
    cb
  }

  /** Collect a codebook as ((m, code) → micro-long centroid) literals,
    * with the micro conversion done by Spark's OWN micro() expression
    * in the collect query — bit-identical to the joined path, no
    * driver-side re-implementation of round(x·1e6). */
  private def collectCodebookMicro(cb: DataFrame)
      : Map[Int, Array[(Int, Seq[Long])]] =
    cb.select(col("m"), col("code"),
        transform(col("centroid"), micro(_)).as("cbi")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .groupBy(_._1)
      .map { case (m, rows) =>
        m -> rows.map(t => (t._2, t._3)).sortBy(_._1)
      }

  /** Row-local nearest-code pick for one subvector row: dispatch on the
    * `m` column, least(struct(d2, code)) over that subspace's code
    * literals — smallest exact-int L2, ties → smaller code, exactly
    * the joined argmin's (d2, code) min. */
  private def bestCodeLiteral(lits: Map[Int, Array[(Int, Seq[Long])]],
                              svi: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    def forM(m: Int): org.apache.spark.sql.Column = {
      val terms = lits(m).map { case (code, cbi) =>
        struct(
          aggregate(zip_with(svi, typedLit(cbi), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x).as("d2"),
          lit(code).as("code"))
      }
      (if (terms.length == 1) terms.head else least(terms.toIndexedSeq: _*))
        .getField("code")
    }
    val ms = lits.keys.toSeq.sorted
    ms.tail.foldLeft(when(col("m") === ms.head, forM(ms.head))) {
      (acc, m) => acc.when(col("m") === m, forM(m))
    }
  }

  /** Nearest-code assignment per (vector, subspace): (vec_id, m, code).
    * L2 on the subvector, ties → smaller code — mirrored exactly by
    * the SQL oracle. r11: bounded codebooks (every shipped index:
    * m·codes = 64) assign row-locally over collected literals — no
    * argmin shuffle; wide codebooks keep the broadcast-join path. */
  private[graft] def assignPqCodes(subvecs: DataFrame, cb: DataFrame): DataFrame = {
    // count-gate FIRST (r12, VERDICT r11 #5): same move as assignCells —
    // the gate (total codebook entries = |cb| rows) is answered by a
    // cheap limit+count, and the codebook is collected only when the
    // literal path is taken; a wide codebook no longer round-trips to
    // the driver just to be discarded.
    val nCodes = cb.limit(LiteralAssignMaxCells + 1).count()
    if (nCodes > 0 && nCodes <= LiteralAssignMaxCells) {
      val lits = collectCodebookMicro(cb)
      // project svi ONCE (r12, ADVICE): passing transform(sv, micro)
      // into bestCodeLiteral cloned the micro conversion into every
      // code's struct term — undoing the documented hoist and leaning
      // on codegen subexpression elimination to save it
      subvecs.withColumn("svi", transform(col("sv"), micro(_)))
        .select(col("vec_id"), col("m"),
          bestCodeLiteral(lits, col("svi")).as("code"))
    } else
      // micro-int L2: elements quantized to value×10⁶ longs ONCE per
      // array (hoisted out of the per-code distance lambda — quantizing
      // inside it re-ran the conversion |codes| times per element), so
      // the distance is an EXACT integer sum — order-free in both
      // engines, and the (d2, code) tie-break can never flip on ulp noise
      subvecs.withColumn("svi", transform(col("sv"), micro(_)))
        .join(broadcast(cb.withColumn("cbi", transform(col("centroid"), micro(_)))),
          Seq("m"))
        .select(col("vec_id"), col("m"), struct(
          aggregate(zip_with(col("svi"), col("cbi"),
            (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x).as("d2"),
          col("code")).as("dc"))
        .groupBy("vec_id", "m")
        .agg(min("dc").as("best"))
        .select(col("vec_id"), col("m"), col("best.code").as("code"))
  }

  /** PQ ANN via asymmetric distance computation (ADC): corpus vectors
    * are encoded once as `m` small codes; queries score candidates by
    * summing a per-(query, subspace, code) lookup table of partial dot
    * products. Output shape identical to [[knnBrute]].
    *
    * THE 100 TB shape: after encoding, the corpus-side scan carries
    * (vec_id, m, code) — 4 bytes of code replaces 256 bytes of floats
    * per vector (64× less I/O and shuffle than brute force), and the
    * score join is a broadcast of the tiny LUT (|queries|·m·K rows)
    * against the code stream. The LUT entries are rounded to 6 dp —
    * that rounding IS the quantized similarity semantics, and pins the
    * ranking bit-identically across engines (same move as the IVF
    * centroid rounding). */
  /** One trained PQ index per (session, dir, m, codes): materialized
    * codebooks + encoded corpus shared by [[knnPq]] and [[pqRecall]] —
    * without the memo each consumer re-ran the 2-iteration codebook
    * training (~10 s at sf0.1, twice per suite) and leaked its per-call
    * persists for the session lifetime. Same pattern as [[ivfIndex]]. */
  private val pqCache =
    scala.collection.concurrent.TrieMap.empty[String, (DataFrame, DataFrame)]

  private def pqIndex(spark: SparkSession, dir: String, m: Int, codes: Int,
                      dim: Int = 64): (DataFrame, DataFrame) =
    pqCache.getOrElseUpdate(
      s"${graft.GraftSession.sessionKey(spark, dir)}#pq$m:$codes", {
        val emb = Tables(spark, dir).embeddings
        val sub = dim / m
        val cb = graft.Materialize.table(
          pqCodebooks(emb, m, codes, iters = 2, dim = dim))
        val subvecs = emb.select(col("vec_id"), posexplode(
          array((0 until m).map(i =>
            slice(col("embedding"), i * sub + 1, sub)): _*)).as(Seq("m", "sv")))
        // the encoded corpus: m codes per vector — at scale this table
        // IS the index (written once, scanned instead of the raw floats)
        val encoded = graft.Materialize.table(assignPqCodes(subvecs, cb))
        (cb, encoded)
      })

  def knnPq(spark: SparkSession, dir: String, nQueries: Int = 20, k: Int = 10,
            m: Int = 4, codes: Int = 16): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val dim = 64
    val sub = dim / m
    val (cb, encoded) = pqIndex(spark, dir, m, codes, dim)
    val q = queriesOf(emb, nQueries)
    // LUT: partial dot + partial squared norm per (query, m, code);
    // 6-dp rounding makes every downstream sum engine-exact
    val lut = q.select(col("query_id"), posexplode(
      array((0 until m).map(i =>
        slice(col("q_emb"), i * sub + 1, sub)): _*)).as(Seq("m", "qv")))
      .withColumn("qi", transform(col("qv"), micro(_)))
      .join(broadcast(cb.withColumn("cbi", transform(col("centroid"), micro(_)))),
        Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        aggregate(zip_with(col("qi"), col("cbi"),
          (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("pdot"),
        aggregate(transform(col("cbi"), x => x * x),
          lit(0L), (acc, x) => acc + x).as("pn2"))
    val qn = q.withColumn("qi", transform(col("q_emb"), micro(_)))
      .select(col("query_id"),
        sqrt(aggregate(transform(col("qi"), x => x * x),
          lit(0L), (acc, x) => acc + x).cast("double")).as("qnorm"))
    encoded.join(broadcast(lut), Seq("m", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum("pdot").as("dot"), sum("pn2").as("rn2"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qn), "query_id")
      .select(col("query_id"), col("vec_id"),
        (col("dot") / (col("qnorm") * sqrt(col("rn2")))).as("sim"))
      .groupBy("query_id")
      .agg(topK(col("vec_id"), col("sim"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("rank0", "nn")))
      .select(col("query_id"), (col("rank0") + 1).as("rank"),
        col("nn.neighbor_id").as("neighbor_id"),
        round(col("nn.score"), 6).as("sim"))
  }

  /** IVF-PQ composite index (Jégou et al. 2011 §IV, the FAISS
    * `IVFxx,PQyy` workhorse): the coarse IVF quantizer partitions the
    * corpus into cells, and product quantization encodes each vector's
    * RESIDUAL (vector − its cell centroid) — residuals concentrate
    * near zero, so the same 4-byte code budget quantizes them far more
    * finely than raw vectors, and search touches only nProbe cells'
    * code streams.
    *
    * THE 100 TB ANN architecture: the index is (cell, m, code) — 1
    * partition key + 4 bytes per vector replacing 256 bytes of floats;
    * cells are the storage partitioning, so a probe reads nProbe/cells
    * of the corpus, and scoring is an ADC lookup-table sum, never a
    * float dot product against raw vectors.
    *
    * Memoized per (session, dir): coarse index rides [[ivfIndex]]
    * (shared with knnIvf/semanticDedup — ONE coarse training), and the
    * residual codebooks/encoded corpus are trained once for both
    * [[knnIvfPq]] and [[ivfpqRecall]]. Residuals stay raw double
    * differences (x − c is IEEE-exact given float-backed inputs, so it
    * reproduces bit-identically in the SQL oracle); micro() performs
    * the one and only quantization. */
  private val ivfpqCache =
    scala.collection.concurrent.TrieMap.empty[String, (DataFrame, DataFrame, DataFrame, DataFrame)]

  private[graft] def ivfpqIndex(spark: SparkSession, dir: String, cells: Int = 16,
                         m: Int = 4, codes: Int = 16, dim: Int = 64)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    ivfpqCache.getOrElseUpdate(
      s"${graft.GraftSession.sessionKey(spark, dir)}#ivfpq$cells:$m:$codes", {
        val (_, centroids, assigned, members) = ivfIndex(spark, dir, cells)
        // residual stays a RAW double difference of two float-backed
        // values (IEEE-identical in any engine); quantization happens
        // exactly once, in micro() — an inner round(·, 6) here caused a
        // real observed flake (9/200 rows off by one micro) because
        // double-rounding near 7th-decimal ties resolves differently
        // across engines. r11: residuals read the materialized
        // cell-keyed member leaf (one broadcast join) instead of
        // re-joining emb⋈assigned.
        val resid = members
          .join(broadcast(centroids), "cell")
          .select(col("vec_id"), zip_with(col("embedding"), col("centroid"),
            (x, c) => x.cast("double") - c.cast("double"))
            .as("embedding"))
        val sub = dim / m
        val cb = graft.Materialize.table(
          pqCodebooks(resid, m, codes, iters = 2, dim = dim))
        val subvecs = resid.select(col("vec_id"), posexplode(
          array((0 until m).map(i =>
            slice(col("embedding"), i * sub + 1, sub)): _*)).as(Seq("m", "sv")))
        // r11: the encoded corpus is materialized WITH its cell key —
        // the (cell, vec_id, m, code) table the IVFPQ comment promises;
        // searches used to re-join enc⋈assigned (a corpus-scale shuffle
        // per consumer: knnIvfPq, ivfpqProbeSweep)
        val enc = graft.Materialize.table(
          assignPqCodes(subvecs, cb).join(assigned, "vec_id")
            .select(col("cell"), col("vec_id"), col("m"), col("code")))
        (centroids, assigned, cb, enc)
      })

  /** IVF-PQ ANN search: probe the nProbe cosine-nearest cells, score
    * candidates by asymmetric L2 on residuals — d²(q, x) ≈ Σₘ ‖r_q[m]
    * − codebook[m][code_x[m]]‖², where r_q is the query's residual
    * against the PROBED cell's centroid (each probed cell gets its own
    * query LUT, the defining IVFPQ trick). The whole distance pipeline
    * is exact micro-int longs (Σ of (≤4·10⁶)² diffs over 64 dims <
    * 2⁵³), so `adc_d2` — and therefore the ranking — is
    * engine-reproducible with NO float tolerance at all.
    *
    * Output: (query_id, rank, neighbor_id, adc_d2), rank by (adc_d2
    * asc, neighbor_id asc) within the probed candidate set. */
  def knnIvfPq(spark: SparkSession, dir: String, nQueries: Int = 20,
               k: Int = 10, cells: Int = 16, m: Int = 4, codes: Int = 16,
               nProbe: Int = 4): DataFrame = {
    val dim = 64
    val sub = dim / m
    val (centroids, assigned, cb, enc) = ivfpqIndex(spark, dir, cells, m, codes, dim)
    val emb = Tables(spark, dir).embeddings
    val q = queriesOf(emb, nQueries)
    // probe ranking mirrors knnIvf: cosine to centroids, tie → cell asc
    val probes = q.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("q_emb"), col("cell"), col("centroid"),
        cosineSim(col("q_emb"), col("centroid")).as("csim"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("csim").desc, col("cell").asc)))
      .filter(col("rk") <= nProbe)
    // per-(query, probed cell) residual, split into m micro-int subvectors
    val qsub = probes.select(col("query_id"), col("cell"),
      zip_with(col("q_emb"), col("centroid"),
        (x, c) => x.cast("double") - c.cast("double")).as("qr"))
      .select(col("query_id"), col("cell"), posexplode(
        array((0 until m).map(i =>
          slice(col("qr"), i * sub + 1, sub)): _*)).as(Seq("m", "qv")))
      .withColumn("qi", transform(col("qv"), micro(_)))
    // ADC lookup table: |queries|·nProbe·m·codes rows — tiny, broadcast
    val lut = qsub
      .join(broadcast(cb.withColumn("cbi", transform(col("centroid"), micro(_)))),
        Seq("m"))
      .select(col("query_id"), col("cell"), col("m"), col("code"),
        aggregate(zip_with(col("qi"), col("cbi"),
          (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2"))
    // candidates = the probed cells' code streams; each candidate in a
    // probed cell matches exactly m LUT rows → one map-side-combined sum
    // (enc carries its cell since r11 — no assigned re-join, the code
    // stream is scanned once with zero shuffle before the topK agg)
    enc.join(broadcast(lut), Seq("cell", "m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("d2").as("adc_d2"))
      .groupBy("query_id")
      .agg(topK(col("vec_id"), -col("adc_d2").cast("double"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("rank0", "nn")))
      .select(col("query_id"), (col("rank0") + 1).as("rank"),
        col("nn.neighbor_id").as("neighbor_id"),
        (-col("nn.score")).cast("long").as("adc_d2"))
      .orderBy("query_id", "rank")
  }

  /** Recall@k of IVF-PQ against exact brute-force cosine — the third
    * column of the ANN accuracy/cost matrix ([[ivfRecall]]: partition
    * loss alone; [[pqRecall]]: quantization loss alone; this: both,
    * the configuration production systems actually run). */
  def ivfpqRecall(spark: SparkSession, dir: String,
                  nQueries: Int = 20, k: Int = 10): DataFrame = {
    val brute = knnBrute(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val ipq = knnIvfPq(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    brute.join(ipq, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_hits"),
        round(count(col("hit")) / (k * 1.0), 4).as(s"recall_at_$k"))
      .orderBy("query_id")
  }

  /** Embedding-cosine near-duplicate pairs via random-hyperplane LSH:
    * 48-bit signatures → 6 bands of 8 bits → bucket join → exact cosine
    * filter. Candidates only — never the |D|² similarity matrix. */
  def embeddingNearDups(spark: SparkSession, dir: String,
                        threshold: Double = 0.35): DataFrame = {
    // no persist: the embedding scan feeds exactly one derivation here,
    // and a per-call persist with no unpersist leaks for the session
    val emb = Tables(spark, dir).embeddings
    // portable planes: signatures and the candidate set reproduce in
    // plain SQL, so the whole pipeline is oracle-checkable
    val signed = emb.select(col("vec_id"), col("embedding"),
      graft.functions.HyperplaneLsh.hyperplaneLsh(col("embedding"),
        portable = true).as("sig"))
    val banded = signed.select(col("vec_id"), col("embedding"), posexplode(
      array((0 until 6).map(i =>
        shiftrightunsigned(col("sig"), i * 8).bitwiseAND(lit(0xFFL))): _*))
      .as(Seq("band", "bucket")))
    val l = banded.select(col("band"), col("bucket"),
      col("vec_id").as("a"), col("embedding").as("ea"))
    val r = banded.select(col("band"), col("bucket"),
      col("vec_id").as("b"), col("embedding").as("eb"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), cosineSim(col("ea"), col("eb")).as("cos"))
      .distinct()
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
  }

  /** Johnson–Lindenstrauss random projection to `k` dims with a
    * Rademacher ±1 matrix derived from md5("rp:j:k") parity — the
    * deterministic, engine-portable dimensionality-reduction sketch
    * (Achlioptas 2003: ±1 entries preserve pairwise distances like
    * Gaussians do).
    *
    * Components are quantized to 1e-6 units and accumulated as exact
    * integers — partition order cannot move the 6-dp output. Scale
    * shape: the sign matrix is dim×k (broadcast); the explode is
    * |vecs|·dim rows with map-side partial aggregation down to
    * |vecs|·k — one shuffle, no |vecs|² anything. */
  def randomProjection(spark: SparkSession, dir: String,
                       k: Int = 8): DataFrame = {
    val ve = Tables(spark, dir).embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "v")))
      .select(col("vec_id"), col("j"),
        round(col("v").cast("double") * 1e6).cast("long").as("vi"))
    val ks = spark.range(k).select(col("id").cast("int").as("k"))
    val sgn = ve.select("j").distinct().crossJoin(ks)
      .select(col("j"), col("k"),
        when(conv(substring(md5(concat(lit("rp:"),
          col("j").cast("string"), lit(":"), col("k").cast("string"))),
          1, 1), 16, 10).cast("int") % 2 === 0, lit(1L))
          .otherwise(lit(-1L)).as("s"))
    ve.join(broadcast(sgn), "j")
      .groupBy("vec_id", "k")
      .agg(round(sum(col("vi") * col("s")) / 1e6, 6).as("proj"))
      .orderBy("vec_id", "k")
  }

  /** Embedding-health report per label — the sanity pass a pipeline
    * runs before trusting an embedding column (zero/exploding norms ⇒
    * upstream encoder bug): vector count and mean/min/max L2 norm.
    *
    * Determinism: the squared sum accumulates 1e-6-quantized terms as
    * exact LONGS inside one row-local `aggregate` lambda, each norm is
    * 6-dp-rounded, and the per-label mean re-quantizes the rounded
    * norms — no float reassociation anywhere, so any engine reproduces
    * the digits. Scale shape: one row-local projection + one
    * label-keyed map-side-combined aggregate; state = |labels| rows. */
  def normStats(spark: SparkSession, dir: String): DataFrame = {
    val ssq = aggregate(col("embedding"), lit(0L),
      (acc, v) =>
        acc + round(v.cast("double") * v.cast("double") * 1e6).cast("long"))
    Tables(spark, dir).embeddings
      .select(col("label"), round(sqrt(ssq / 1e6), 6).as("nrm"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        (round(sum(round(col("nrm") * 1e6).cast("long")) /
          (count(lit(1)) * 1.0)).cast("long") / 1e6).as("avg_norm"),
        min("nrm").as("min_norm"),
        max("nrm").as("max_norm"))
      .orderBy("label")
  }

  /** Cluster balance report over the nearest-centroid assignment: how
    * evenly the corpus spreads across the label centroids — the
    * diversity check a data-mixing pipeline runs before trusting
    * cluster-stratified sampling (entropy ≈ log₂k means balanced;
    * max_share → 1 means one cluster swallowed the corpus).
    *
    * Scale shape: rides [[centroidAssign]] (broadcast centroids, one
    * corpus stream, labels² confusion state); everything after is
    * arithmetic on ≤ labels rows. Determinism: per-cluster
    * p·log₂p terms are 1e-6-quantized to exact longs before the sum
    * (the [[TextAnalysis.wordEntropy]] move). */
  def clusterEntropy(spark: SparkSession, dir: String): DataFrame = {
    val sizes = centroidAssign(spark, dir)
      .groupBy("assigned_label").agg(sum("n").as("nc"))
    val t = sizes.agg(sum("nc").as("tot"), count(lit(1)).as("k"),
      max("nc").as("mx"))
    val p = col("nc") / col("tot").cast("double")
    sizes.crossJoin(broadcast(t))
      .select(col("k"), col("tot"), col("mx"),
        round(p * log2(p) * 1e6).cast("long").as("u"))
      .groupBy()
      .agg(
        max("k").as("n_clusters"),
        max("tot").as("n_vecs"),
        round(-sum(col("u")) / 1e6, 6).as("entropy"),
        round(-sum(col("u")) / 1e6 / log2(max("k").cast("double")), 6)
          .as("norm_entropy"),
        round(max("mx") / max("tot").cast("double"), 6).as("max_share"))
  }

  /** Upper-triangle covariance matrix of the embedding column, long
    * form (i, j, cov) — the moment pass PCA/whitening/drift monitoring
    * run over an embedding corpus.
    *
    * Scale shape: ONE [[graft.functions.CoMoments]] aggregate — each
    * task keeps a d(d+1)/2-long sketch (~17 KB at d=64) and only the
    * sketches shuffle; no self-join, no pair explosion, corpus streams
    * once. Determinism: 1e-3-quantized exact-integer moments (see
    * CoMoments scaladoc); the output is the covariance in exact BIGINT
    * 1e-6 micro-units (`cov_micro` = round(cov·1e6)) — integers carry
    * no signed zero, so the value is hash-stable across engines (a
    * rounded DOUBLE near zero flaked on DuckDB emitting `-0.0` where
    * Spark emits `+0.0`; callers wanting the float divide by 1e6). */
  def embeddingCovariance(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .select(graft.functions.CoMoments.coMoments(col("embedding")).as("cm"))
      .select(explode(col("cm")).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"),
        round(col("p.cov_micro")).cast("long").as("cov_micro"))
      .orderBy("i", "j")

  /** The integer micro-covariance matrix (round(cov·1e6)) as a local
    * dense symmetric d×d array — O(d²) bounded driver state (the same
    * legitimacy class as the capped BPE vocab), fed by the distributed
    * [[embeddingCovariance]] moment pass. */
  private val covCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Long]]]

  private def microCovMatrix(spark: SparkSession, dir: String): Array[Array[Long]] =
    covCache.getOrElseUpdate(graft.GraftSession.sessionKey(spark, dir),
      computeMicroCov(spark, dir))

  private def computeMicroCov(spark: SparkSession, dir: String): Array[Array[Long]] = {
    val rows = Tables(spark, dir).embeddings
      .select(graft.functions.CoMoments.coMoments(col("embedding")).as("cm"))
      .select(explode(col("cm")).as("p"))
      .select(col("p.i"), col("p.j"), col("p.cov_micro"))
      .collect()
    val d = rows.iterator.map(_.getInt(1)).max + 1
    val m = Array.ofDim[Long](d, d)
    rows.foreach { r =>
      val mc = roundHalfAway(r.getDouble(2))
      m(r.getInt(0))(r.getInt(1)) = mc; m(r.getInt(1))(r.getInt(0)) = mc
    }
    m
  }

  /** Fixed-round power iteration on the embedding covariance: the
    * direction and Rayleigh-style eigenvalue estimate after exactly 8
    * deterministic rounds — a spectral health probe (drift monitors
    * track the estimate; an estimate far below the max diagonal
    * variance means no dominant direction). NOTE on semantics: 8
    * rounds converge to PC1 only when the spectral gap is real; on a
    * near-isotropic corpus (like the synthetic embeddings, λ₂/λ₁ ≈
    * 0.99) the direction is still mixing — that is inherent to power
    * iteration, the convergence property is spec-gated on a spiked
    * matrix (PcaSpec), and converged PCA lives in [[pcaEigen]] /
    * [[pcaProject]]. The estimate is ALWAYS within [λ_min, λ_max]
    * (spec-asserted against the Jacobi spectrum).
    *
    * Determinism contract (what makes this oracle-checkable): the
    * iteration runs on the 1e-6-quantized integer covariance and a
    * 1e-6-quantized integer vector. Each round, y = C·v is EXACT
    * integer arithmetic (≤6.4e13 at d=64 — double-exact), the norm is
    * √(Σy²) with the squared sum carried exactly (BigInt here, HUGEINT
    * in the oracle), and the new vector re-quantizes y/‖y‖ at 1e-6
    * with round-half-away-from-zero — so every engine walks the same
    * integer sequence. Scale shape: one distributed moment pass
    * ([[CoMoments]]), then O(d²) driver math — iteration state is
    * d-bounded, corpus-independent. */
  def pcaPower(spark: SparkSession, dir: String, iters: Int = 8): DataFrame = {
    import spark.implicits._
    val (vm, nrm) = powerLoop(microCovMatrix(spark, dir), iters)
    val lambda = nrm / 1e12
    spark.createDataset(vm.toIndexedSeq.zipWithIndex.map { case (v, i) =>
      (i, v / 1e6, lambda)
    }).toDF("dim", "component", "eigenvalue")
      .select(col("dim"), round(col("component"), 6).as("component"),
        round(col("eigenvalue"), 6).as("eigenvalue"))
      .orderBy("dim")
  }

  /** The exact integer power-iteration walk shared by [[pcaPower]]
    * and the DuckDB oracle (pcaPowerUnrolled): returns (final 1e-6
    * vector, final ‖C·v‖). Exposed for the spiked-matrix convergence
    * spec. */
  private[graft] def powerLoop(m: Array[Array[Long]], iters: Int): (Array[Long], Double) = {
    val d = m.length
    var vm = Array.fill(d)(roundHalfAway(1e6 / math.sqrt(d.toDouble)))
    var nrm = 0.0
    for (_ <- 1 to iters) {
      val y = Array.tabulate(d) { i =>
        var s = BigInt(0)
        var j = 0
        while (j < d) { s += BigInt(m(i)(j)) * vm(j); j += 1 }
        s
      }
      nrm = math.sqrt(y.foldLeft(BigInt(0))((a, b) => a + b * b).toDouble)
      vm = y.map(yi => roundHalfAway(yi.toDouble / nrm * 1e6))
    }
    (vm, nrm)
  }

  /** Full PCA projection: cyclic-Jacobi eigendecomposition of the
    * covariance (driver-side on the d×d moment matrix — bounded state,
    * like [[pcaPower]]), then a map-side projection of every embedding
    * onto the top-k components. The projection is a literal-coefficient
    * sum (k × d fused multiply-adds inside whole-stage codegen) — no
    * join, no shuffle, no UDF; the corpus streams once.
    *
    * Eigenvector sign is pinned (largest-|component| entry positive) so
    * the output is deterministic. Spec-gated (eigendecomposition has no
    * SQL twin): PcaSpec asserts orthonormality, descending eigenvalues,
    * trace preservation, agreement of PC1 with [[pcaPower]], and that
    * per-component projection variance matches the eigenvalue. */
  def pcaProject(spark: SparkSession, dir: String, k: Int = 4): DataFrame = {
    val (eigVals, eigVecs) = pcaEigen(spark, dir)
    val emb = Tables(spark, dir).embeddings
    val kk = math.min(k, eigVals.length)
    val e = col("embedding")
    val pcs = (0 until kk).map { c =>
      val v = eigVecs(c)
      v.indices.map(i => element_at(e, i + 1).cast("double") * lit(v(i)))
        .reduce(_ + _).as(s"pc${c + 1}")
    }
    emb.select(col("vec_id") +: pcs: _*)
  }

  /** PCA whitening into the top-k component space: w = diag(1/√λ)·Vᵀ·x
    * — the decorrelation transform embedding pipelines apply before
    * cosine retrieval or SemDeDup (dominant directions stop swamping
    * the metric). Same scale shape as [[pcaProject]]: the k×d
    * whitening matrix comes out of the driver-side Jacobi eigensolve
    * on the d² moment sketch, then every row is a literal-coefficient
    * fused multiply-add inside whole-stage codegen — no join, no
    * shuffle, corpus streams once. Components with λ ≤ 1e-9 are
    * dropped (no 1/√0 blowup). Spec-gated: whitened per-component
    * variance ≈ 1 and pairwise covariance ≈ 0 (PcaSpec). */
  def pcaWhiten(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val (eigVals, eigVecs) = pcaEigen(spark, dir)
    val usable = eigVals.takeWhile(_ > 1e-9).length
    val kk = math.min(k, usable)
    val e = col("embedding")
    val cols = (0 until kk).map { c =>
      val s = 1.0 / math.sqrt(eigVals(c))
      val v = eigVecs(c)
      v.indices.map(i => element_at(e, i + 1).cast("double") * lit(v(i) * s))
        .reduce(_ + _).as(s"w${c + 1}")
    }
    Tables(spark, dir).embeddings.select(col("vec_id") +: cols: _*)
  }

  /** (eigenvalues desc, eigenvectors row-major) of the covariance via
    * cyclic Jacobi — deterministic rotation order, signs pinned. */
  private[graft] def pcaEigen(spark: SparkSession, dir: String): (Array[Double], Array[Array[Double]]) = {
    val mc = microCovMatrix(spark, dir)
    val d = mc.length
    val a = Array.tabulate(d, d)((i, j) => mc(i)(j) / 1e6)
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-14) {
      off = 0.0
      for (p <- 0 until d - 1; q <- p + 1 until d) {
        val apq = a(p)(q)
        off += apq * apq
        if (math.abs(apq) > 1e-18) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
          val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          var i = 0
          while (i < d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
            i += 1
          }
          i = 0
          while (i < d) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = c * api - s * aqi
            a(q)(i) = s * api + c * aqi
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
            i += 1
          }
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { ci =>
      val vec = Array.tabulate(d)(r => v(r)(ci))
      val am = vec.indices.maxBy(i => (math.abs(vec(i)), -i))
      if (vec(am) < 0) vec.map(-_) else vec
    }.toArray
    (vals, vecs)
  }

  // ---------- k-center coreset selection ----------

  /** k-center greedy coreset (Gonzalez 1985 farthest-point traversal —
    * the 2-approximation behind coreset-based data pruning and active
    * learning, Sener & Savarese 2018): start from vec 0, repeatedly
    * select the point FARTHEST from the selected set. Returns
    * (rank, vec_id, radius_d2) — the selection order plus each pick's
    * min-distance² at selection time (the coverage-radius sequence, in
    * exact micro² integer units, so the whole output hash-checks with
    * no float anywhere).
    *
    * Scale shape: one corpus aggregation per pick — min-dist² to the
    * (driver-tiny, broadcast-literal) selected set is a map-side
    * integer expression, and the argmax is max(struct(d2, −id)), a
    * 1-row aggregate with the deterministic smaller-id tie-break —
    * never a global sort. k passes over the corpus is the canonical
    * k-center cost; distances are exact long sums of micro-int squared
    * diffs (≤ 64·(4·10¹²) ≪ 2⁶³). Already-selected ids are excluded
    * explicitly, so an all-duplicates tail cannot re-pick a center. */
  def kcenterCoreset(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir).embeddings
      .select(col("vec_id"), transform(col("embedding"), micro(_)).as("xi"))
    val d2To = (center: Array[Long]) =>
      aggregate(zip_with(col("xi"), typedLit(center.toSeq),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
    val first = emb.filter(col("vec_id") === 0L)
      .select(col("xi")).head().getSeq[Long](0).toArray
    // INCREMENTAL min-dist² (r11, VERDICT r10 "Next #4"): carry a
    // materialized (vec_id, xi, mind2) table and fold in ONLY the
    // newest center per pick — one `least` against one d2 expression,
    // O(k·n·d) total work — instead of rebuilding the k-term min
    // expression chain each pick (O(k²·n·d), and a linearly growing
    // codegen expression). Identical semantics: least over the same
    // set, so selection order and radii are unchanged (the oracle
    // already replays exactly this incremental form). Each round's
    // table goes through Materialize.table — plan stays a leaf, no
    // lineage growth across picks.
    // tableWithHandle (r12, ADVICE): unpersist() on the FLATTENED leaf
    // was a silent no-op (the LogicalRDD plan no longer matches the
    // CacheManager entry), so ~k/flattenEvery corpus-size mind2 tables
    // stayed cached for the session; the handle is what unpersists.
    var (cur, curHandle) = graft.Materialize.tableWithHandle(
      emb.select(col("vec_id"), col("xi"), d2To(first).as("mind2")))
    var selected = Vector((0L, 0L)) // (vec_id, radius at selection)
    // centers picked since the last flatten: their d2 terms fold into
    // ONE projection over the materialized leaf — least(mind2, d2(c1),
    // …) is a single select, so there is NO lineage nesting, only
    // expression width, and the width is capped at `flattenEvery`
    // (the k-wide chain was the O(k²·n·d) the r10 verdict flagged)
    var pending = List.empty[Array[Long]]
    val flattenEvery = 4
    def mind2Col = pending.foldLeft(col("mind2")) { (acc, c) =>
      least(acc, d2To(c))
    }
    for (r <- 1 until k) {
      // one TakeOrdered top-1 per pick (per-partition top-1 + driver
      // merge — never a global sort): same (d2 desc, id asc) winner as
      // the former max(struct) argmax, but the row CARRIES the winner's
      // vector, so the separate per-pick center-fetch action is gone
      // and the state flattens once per `flattenEvery` picks instead of
      // every pick (r11: 94 → ~35 jobs at k=16)
      val best = cur
        .filter(!col("vec_id").isin(selected.map(_._1): _*))
        .select(mind2Col.as("md2"), col("vec_id"), col("xi"))
        .orderBy(col("md2").desc, col("vec_id").asc)
        .head()
      val id = best.getLong(1)
      selected :+= ((id, best.getLong(0)))
      if (r < k - 1) {
        pending ::= best.getSeq[Long](2).toArray
        if (pending.size >= flattenEvery) {
          val (next, nextHandle) = graft.Materialize.tableWithHandle(
            cur.select(col("vec_id"), col("xi"), mind2Col.as("mind2")))
          curHandle.unpersist(blocking = false)
          cur = next
          curHandle = nextHandle
          pending = Nil
        }
      }
    }
    curHandle.unpersist(blocking = false)
    selected.zipWithIndex.map { case ((id, r), rank) =>
      (rank, id, r)
    }.toDF("rank", "vec_id", "radius_d2").orderBy("rank")
  }

  // ---------- OPQ: learned rotation before PQ ----------

  /** Half-away-from-zero integer division by a POSITIVE divisor — the
    * one rounding the OPQ rotation training uses everywhere. The
    * negative-numerator case routes through the non-negative one so
    * the SQL twin (HUGEINT `//`, whose negative-operand semantics we
    * never rely on) replays it exactly:
    * `CASE WHEN n >= 0 THEN (2n+d)//(2d) ELSE -((-2n+d)//(2d)) END`. */
  private def roundDivB(num: BigInt, den: BigInt): BigInt =
    if (num.signum >= 0) (num * 2 + den) / (den * 2)
    else -(((-num) * 2 + den) / (den * 2))

  private val opqRotCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Long]]]

  /** OPQ rotation (Ge et al. 2014, "Optimized product quantization" —
    * the non-parametric eigenvalue-ALLOCATION init of §4): a learned
    * orthogonal rotation applied before PQ so the top variance
    * directions land one-per-subspace instead of wherever the raw
    * coordinates put them. Trained as `nRefl` DEFLATED integer power
    * iterations (the exact [[pcaPower]] walk, Hotelling deflation
    * between them), each turned into a Householder reflection aligning
    * that direction to axis j·sub — the first coordinate of PQ
    * subspace j. The power basis is chosen over the already-shipped
    * Jacobi basis ([[pcaEigen]]) DELIBERATELY: every step (integer
    * mat-vec, exact-integer Householder entries, 1e-6-pinned
    * compositions) has an exact HUGEINT SQL twin, so the WHOLE
    * e_opq_recall pipeline — rotation training included — is
    * DuckDB-oracle-checked, where a Jacobi rotation (10⁵ sequential
    * data-dependent plane rotations) has no SQL expression.
    *
    * Integer discipline (what makes it engine-exact): the covariance
    * is the memoized 1e-6 integer matrix; power vectors are 1e-6 ints
    * ([[powerLoop]]); w = R·v, the Householder entries
    * H = I − 2uuᵀ/uᵀu, the composition R ← H·R and the deflation
    * C ← C − λvvᵀ are all computed in exact big-integer arithmetic and
    * re-pinned at 1e-6 with [[roundDivB]]. Scale shape: one
    * distributed moment pass (shared with e_pca_power /
    * e_embedding_covariance), then O(nRefl·d²) driver math — bounded
    * state, corpus-independent, same legitimacy class as the BPE
    * vocab. Returns R·1e6 as a d×d long matrix (rows = output dims). */
  private[graft] def opqRotationMicro(spark: SparkSession, dir: String,
                                      nRefl: Int = 4, iters: Int = 16,
                                      dim: Int = 64, sub: Int = 16)
      : Array[Array[Long]] =
    opqRotCache.getOrElseUpdate(
      s"${graft.GraftSession.sessionKey(spark, dir)}#opq$nRefl:$iters", {
        val M = BigInt(1000000)
        val d = dim
        var cm: Array[Array[BigInt]] =
          microCovMatrix(spark, dir).map(_.map(BigInt(_)))
        var rm: Array[Array[BigInt]] = Array.tabulate(d, d)((a, b) =>
          if (a == b) M else BigInt(0))
        for (j <- 0 until nRefl) {
          val (vm, nrm) = powerLoop(cm.map(_.map(_.toLong)), iters)
          // w = R·v: the direction expressed in the CURRENT frame
          val w = Array.tabulate(d)(a =>
            roundDivB((0 until d).map(c => rm(a)(c) * vm(c)).sum, M))
          val ax = j * sub
          val wn = BigInt(roundHalfAway(
            math.sqrt(w.map(x => x * x).sum.toDouble)))
          val alpha = if (w(ax).signum > 0) -wn else wn
          val u = w.clone(); u(ax) = u(ax) - alpha
          val uu = u.map(x => x * x).sum
          val h: Array[Array[BigInt]] =
            if (uu.signum == 0) // w ≡ 0: impossible for a unit power
              Array.tabulate(d, d)((a, b) => // vector; keep R (H = I)
                if (a == b) M else BigInt(0))
            else Array.tabulate(d, d)((a, b) =>
              (if (a == b) M else BigInt(0)) -
                roundDivB(u(a) * u(b) * 2 * M, uu))
          rm = Array.tabulate(d, d)((a, b) =>
            roundDivB((0 until d).map(c => h(a)(c) * rm(c)(b)).sum, M))
          if (j < nRefl - 1) {
            val lam = BigInt(roundHalfAway(nrm / 1e6))
            cm = Array.tabulate(d, d)((a, b) =>
              cm(a)(b) - roundDivB(lam * vm(a) * vm(b), M * M))
          }
        }
        rm.map(_.map(_.toLong))
      })

  private val opqEmbCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** The corpus with the OPQ rotation applied: each output coordinate
    * is round(Σ R_micro·x_micro / 1e6)/1e6 — the integer micro dot
    * (≤ 64·1e6·|x|·1e6 ≪ 2⁵³, double-exact) rounded at the micro
    * QUOTIENT (scale-0 ties are representation-exact in both engines),
    * so the rotated corpus is bit-identical to the SQL twin. Pure
    * map-side literal-coefficient projection inside whole-stage
    * codegen — no join, no shuffle, the corpus streams once. */
  private[graft] def opqRotatedEmb(spark: SparkSession, dir: String): DataFrame =
    opqEmbCache.getOrElseUpdate(
      graft.GraftSession.sessionKey(spark, dir) + "#opqemb", {
        val r = opqRotationMicro(spark, dir)
        val emb = Tables(spark, dir).embeddings
        val rows = emb.withColumn("xi", transform(col("embedding"), micro(_)))
        val outCols = r.indices.map { c =>
          val dot = aggregate(zip_with(col("xi"),
            typedLit(r(c).toSeq), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x)
          round(dot.cast("double") / 1e6).cast("long") / lit(1e6)
        }
        graft.Materialize.table(
          rows.select(col("vec_id"), array(outCols: _*).as("embedding")))
      })

  /** PQ over the OPQ-rotated corpus — identical train/encode/ADC
    * pipeline as [[knnPq]], reading the rotated table; queries rotate
    * through the same projection (ADC compares rotated to rotated —
    * cosine is rotation-invariant up to the 1e-6 pinning). */
  private val opqPqCache =
    scala.collection.concurrent.TrieMap.empty[String, (DataFrame, DataFrame)]

  def knnOpq(spark: SparkSession, dir: String, nQueries: Int = 20,
             k: Int = 10, m: Int = 4, codes: Int = 16): DataFrame = {
    val dim = 64
    val sub = dim / m
    val emb = opqRotatedEmb(spark, dir)
    val (cb, encoded) = opqPqCache.getOrElseUpdate(
      s"${graft.GraftSession.sessionKey(spark, dir)}#opqpq$m:$codes", {
        val cb = graft.Materialize.table(
          pqCodebooks(emb, m, codes, iters = 2, dim = dim))
        val subvecs = emb.select(col("vec_id"), posexplode(
          array((0 until m).map(i =>
            slice(col("embedding"), i * sub + 1, sub)): _*)).as(Seq("m", "sv")))
        (cb, graft.Materialize.table(assignPqCodes(subvecs, cb)))
      })
    val q = queriesOf(emb, nQueries)
    val lut = q.select(col("query_id"), posexplode(
      array((0 until m).map(i =>
        slice(col("q_emb"), i * sub + 1, sub)): _*)).as(Seq("m", "qv")))
      .withColumn("qi", transform(col("qv"), micro(_)))
      .join(broadcast(cb.withColumn("cbi", transform(col("centroid"), micro(_)))),
        Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        aggregate(zip_with(col("qi"), col("cbi"),
          (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("pdot"),
        aggregate(transform(col("cbi"), x => x * x),
          lit(0L), (acc, x) => acc + x).as("pn2"))
    val qn = q.withColumn("qi", transform(col("q_emb"), micro(_)))
      .select(col("query_id"),
        sqrt(aggregate(transform(col("qi"), x => x * x),
          lit(0L), (acc, x) => acc + x).cast("double")).as("qnorm"))
    encoded.join(broadcast(lut), Seq("m", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum("pdot").as("dot"), sum("pn2").as("rn2"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qn), "query_id")
      .select(col("query_id"), col("vec_id"),
        (col("dot") / (col("qnorm") * sqrt(col("rn2")))).as("sim"))
      .groupBy("query_id")
      .agg(topK(col("vec_id"), col("sim"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("rank0", "nn")))
      .select(col("query_id"), (col("rank0") + 1).as("rank"),
        col("nn.neighbor_id").as("neighbor_id"),
        round(col("nn.score"), 6).as("sim"))
  }

  /** recall@k of OPQ (rotation + PQ) vs exact brute force in the
    * ORIGINAL space — the number that says whether the learned
    * rotation pays for itself against [[pqRecall]] at the same code
    * budget (AnnSpec asserts it does on the real embeddings). */
  def opqRecall(spark: SparkSession, dir: String,
                nQueries: Int = 20, k: Int = 10): DataFrame = {
    val brute = knnBrute(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val opq = knnOpq(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    brute.join(opq, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_hits"),
        round(count(col("hit")) / (k * 1.0), 4).as(s"recall_at_$k"))
      .orderBy("query_id")
  }

  /** Per-label simplified silhouette (centroid silhouette): for each
    * vector, a = distance to its OWN label centroid, b = distance to
    * the nearest OTHER label centroid, s = (b − a)/max(a, b); report
    * the per-label mean — the standard clustering-quality score at the
    * cost of one centroid pass instead of the O(n²) pairwise original.
    *
    * Engine-portable by exact integer arithmetic end to end: vectors
    * and centroids live in micro-ints (centroid micro = floor of the
    * exact micro-sum / n), so every squared distance is an exact
    * BIGINT in any engine; s derives from those integers through
    * IEEE sqrt/division (bit-identical on identical inputs) and is
    * micro-pinned before the order-free integer mean.
    *
    * Scale shape: centroids are a labels×dim broadcast (built by ONE
    * map-side-combined groupBy); the corpus streams once through the
    * scoring crossJoin — labels rows per vector, a (label-count)-way
    * fan-out, NOT |D|²; per-vector min/max collapse map-side. */
  def silhouette(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => micro(x)).as("m"))
    val cents = emb
      .select(col("label").as("clabel"), posexplode(col("m")).as(Seq("dim", "v")))
      .groupBy("clabel", "dim")
      .agg(floor(sum(col("v")) / count(lit(1))).cast("long").as("mu"))
      .groupBy("clabel")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mu")))),
        s => s.getField("mu")).as("cvec"))
    val d2 = aggregate(
      zip_with(col("m"), col("cvec"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, v) => acc + v)
    val scored = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"),
        when(col("clabel") === col("label"), d2).as("a2"),
        when(col("clabel") =!= col("label"), d2).as("b2"))
      .groupBy("vec_id", "label")
      .agg(max("a2").as("a2"), min("b2").as("b2"))
    val a = sqrt(col("a2").cast("double"))
    val b = sqrt(col("b2").cast("double"))
    val s = when(greatest(col("a2"), col("b2")) === 0L, lit(0.0))
      .otherwise((b - a) / greatest(a, b))
    scored
      .select(col("label"), micro(s).as("sm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        (round(sum(col("sm")) / (count(lit(1)) * 1.0)).cast("long")
          / 1e6).as("silhouette"))
      .orderBy("label")
  }

  /** Leave-one-out kNN label evaluation over the query slice: the
    * majority label among each query's k cosine-nearest neighbors vs
    * its own label (ties → smaller label) — the standard
    * label-consistency check on an embedding table. Rides the same
    * exact top-k pipeline as e_knn_brute (broadcast queries, map-side
    * TopKByScore), plus two label joins and a k-bounded vote window. */
  def knnEval(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val lab = Tables(spark, dir).embeddings.select(col("vec_id"), col("label"))
    val votes = knnBrute(spark, dir, k = k)
      .join(lab.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("votes").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
    votes
      .join(lab.select(col("vec_id").as("query_id"),
        col("label").as("true_label")), "query_id")
      .select(col("query_id"), col("true_label"), col("pred_label"),
        col("votes"),
        (col("pred_label") === col("true_label")).cast("int").as("correct"))
      .orderBy("query_id")
  }

  /** Per-label embedding outliers: the k vectors farthest (exact
    * integer micro squared-L2) from their own label centroid — the
    * mislabeled/corrupt-example screen a training pipeline runs per
    * class. Same exactness contract as [[kmeansStep]]: micro-int
    * components, integer-rounded micro centroids, order-free BIGINT
    * distances, so the ranking is bit-stable on any partitioning and
    * fully oracle-replayable. One exploded pass for centroids
    * (labels×dim state), one broadcast-join pass for distances, a
    * bounded top-k. */
  def centroidOutliers(spark: SparkSession, dir: String,
                       k: Int = 10): DataFrame = {
    val x = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("vec_id"), col("label"), col("dim"),
        micro(col("f")).as("v"))
    val cents = x.groupBy("label", "dim")
      .agg(round(sum(col("v")) / (count(lit(1)) * 1.0)).cast("long")
        .as("cv"))
    x.join(broadcast(cents), Seq("label", "dim"))
      .groupBy("vec_id", "label")
      .agg(sum((col("v") - col("cv")) * (col("v") - col("cv")))
        .as("sq_dist"))
      .orderBy(col("sq_dist").desc, col("vec_id"))
      .limit(k)
  }

  /** One Lloyd k-means iteration from deterministic seeds (the k
    * smallest vec_ids), engine-portable by the micro-int discipline:
    * components quantize to exact 1e-6 longs, so every squared-L2
    * distance is an EXACT integer (≤ 64·(2e6)² ≈ 2.6·10¹⁴ — no float
    * summation order anywhere), the argmin tie-breaks on centroid id,
    * and the updated centroids are integer-rounded micro means. Output
    * (centroid_id, dim, n_members, c_micro) — k·d rows pinning the
    * whole assignment+update pipeline for the oracle.
    *
    * Scale shape: the centroid table is a k·d-row broadcast; the
    * assignment is one pass over the exploded corpus with map-side
    * partial aggregation on (vec, cid); the update is a second
    * broadcast-join pass aggregating to k·d rows. The N·d·k exploded
    * intermediate is the declarative cost of exactness — the
    * convergence-mode twin [[kmeansIterate]] keeps the same shape with
    * driver-held k·d state per round. */
  def kmeansStep(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val x = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("vec_id"), col("dim"), micro(col("f")).as("v"))
    val sd = emb.select("vec_id").orderBy("vec_id").limit(k)
      .select(col("vec_id"),
        (row_number().over(Window.orderBy("vec_id")) - 1).as("cid"))
    val c0 = broadcast(x.join(sd, "vec_id")
      .select(col("cid"), col("dim"), col("v").as("cv")))
    val asg = x.join(c0, "dim")
      .groupBy("vec_id", "cid")
      .agg(sum((col("v") - col("cv")) * (col("v") - col("cv"))).as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))))
      .filter(col("rn") === 1).select(col("vec_id"), col("cid"))
    asg.join(x, "vec_id")
      .groupBy(col("cid").as("centroid_id"), col("dim"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("v")) / (count(lit(1)) * 1.0)).cast("long")
          .as("c_micro"))
      .orderBy("centroid_id", "dim")
  }

  /** Convergence-mode Lloyd k-means (the multi-iteration twin of
    * [[kmeansStep]], spec-gated on planted blobs): k·d centroid state
    * lives on the driver between rounds (tiny — the [[pcaPower]]
    * convention), each round is the same exact-integer broadcast
    * assignment + micro-mean update as the single step. Empty clusters
    * keep their previous centroid. Returns (assignment DF, centroids
    * as micro longs). */
  def kmeansIterate(vecs: DataFrame, k: Int, iters: Int)
      : (DataFrame, Array[Array[Long]]) = {
    val spark = vecs.sparkSession
    val x = vecs
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("vec_id"), col("dim"), micro(col("f")).as("v"))
    val xmCached = x.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    xmCached.count()
    val xm = org.apache.spark.sql.graft.Bridge.flatten(xmCached)
    var cents: Array[Array[Long]] = xm
      .join(vecs.select("vec_id").orderBy("vec_id").limit(k)
        .select(col("vec_id"),
          (row_number().over(Window.orderBy("vec_id")) - 1).as("cid")),
        "vec_id")
      .select("cid", "dim", "v").collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getLong(2)))
    def centroidDf(cs: Array[Array[Long]]) = broadcast(
      spark.createDataFrame(spark.sparkContext.parallelize(
        cs.zipWithIndex.flatMap { case (c, i) =>
          c.zipWithIndex.map { case (v, d) =>
            org.apache.spark.sql.Row(i, d, v) } }.toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cid",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("dim",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("cv",
            org.apache.spark.sql.types.LongType)))))
    var asg: DataFrame = null
    for (_ <- 1 to iters) {
      asg = xm.join(centroidDf(cents), "dim")
        .groupBy("vec_id", "cid")
        .agg(sum((col("v") - col("cv")) * (col("v") - col("cv"))).as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))))
        .filter(col("rn") === 1).select(col("vec_id"), col("cid"))
      val upd = asg.join(xm, "vec_id")
        .groupBy("cid", "dim")
        .agg(round(sum(col("v")) / (count(lit(1)) * 1.0)).cast("long")
          .as("c_micro"))
        .collect()
      val next = cents.map(_.clone())
      upd.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getLong(2))
      cents = next
    }
    // materialize the final assignment through its own cache, then free
    // the exploded feature table (caller owns the returned frame)
    val out = graft.Materialize.table(asg)
    xmCached.unpersist(blocking = false)
    (out, cents)
  }

  // ------------------------------------------------------------------
  // Binary (sign) quantization — 1 bit per dimension

  /** Memoized sign-bit code table: built once per (session, dir),
    * shared by [[bqCodes]] / [[knnBq]] / [[bqRecall]]. */
  private val bqCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  private def bqTable(spark: SparkSession, dir: String): DataFrame =
    bqCache.getOrElseUpdate(graft.GraftSession.sessionKey(spark, dir), {
      graft.Materialize.table(
        Tables(spark, dir).embeddings.select(
          col("vec_id"), col("label"),
          bqHalf(0).as("code_lo"), bqHalf(32).as("code_hi")))
    })

  /** Bits `off..off+31` of the sign code, packed into a long: bit i is
    * set iff coordinate off+i is strictly positive. Two 32-bit halves,
    * not one 64-bit word — bit 63 of a signed BIGINT is the sign bit
    * and `1 << 63` overflows (portably differently) across engines;
    * 31-bit-max shifts reproduce bit-exactly everywhere. */
  private def bqHalf(off: Int) =
    expr("aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> acc + " +
      s"IF(element_at(embedding, i + ${off + 1}) > CAST(0 AS FLOAT), " +
      "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))")

  /** Sign-bit binary quantization codes (vec_id, label, code_lo,
    * code_hi): 64 float dims (256 B) compress to 8 B — 32× — and
    * similarity becomes two XOR+popcount instructions instead of 64
    * multiply-adds. The aggressive end of the ANN compression ladder
    * (PQ 16×, SQ 4×, BQ 32×), and the only one whose codes AND
    * distances are pure integers: bit-exact in any engine, no
    * float-tie risk anywhere.
    *
    * Scale shape: pure map-side projection (a constant 32-element
    * lambda fold per half, no shuffle); at 100 TB the 8-byte/vector
    * code table is what ships to the searchers instead of the raw
    * embedding column. */
  def bqCodes(spark: SparkSession, dir: String): DataFrame =
    bqTable(spark, dir).orderBy("vec_id")

  /** Hamming-distance kNN over the sign codes. Output (query_id, rank,
    * neighbor_id, hamming) — hamming is an exact integer, so unlike the
    * float-scored searches this ranking ships its score.
    *
    * Scale shape: same broadcast-query / map-side bounded top-k plan as
    * [[knnBrute]], but the scan reads 8-byte codes, not 256-byte
    * vectors — the corpus pass is memory-bandwidth-bound and ~32×
    * lighter. Ties (equal hamming) break by smaller neighbor_id, the
    * TopKByScore convention. */
  def knnBq(spark: SparkSession, dir: String,
            nQueries: Int = 20, k: Int = 10): DataFrame = {
    val codes = bqTable(spark, dir)
    val q = broadcast(codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("code_lo").as("q_lo"), col("code_hi").as("q_hi")))
    codes.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (expr("bit_count(code_lo ^ q_lo)") +
          expr("bit_count(code_hi ^ q_hi)")).cast("long").as("ham"))
      .groupBy("query_id")
      .agg(topK(col("vec_id"), -col("ham").cast("double"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("rank0", "nn")))
      .select(col("query_id"), (col("rank0") + 1).as("rank"),
        col("nn.neighbor_id").as("neighbor_id"),
        (-col("nn.score")).cast("long").as("hamming"))
  }

  /** Recall@k of the 1-bit Hamming ranking against exact brute-force
    * cosine — closes the compression-accuracy ladder next to
    * [[ivfRecall]]/[[pqRecall]]/[[sqRecall]]: how much neighborhood
    * structure survives keeping ONLY the sign of every coordinate. */
  def bqRecall(spark: SparkSession, dir: String,
               nQueries: Int = 20, k: Int = 10): DataFrame = {
    val brute = knnBrute(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val bq = knnBq(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    brute.join(bq, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_hits"),
        round(count(col("hit")) / (k * 1.0), 4).as(s"recall_at_$k"))
      .orderBy("query_id")
  }

  /** Two-stage retrieval: a cheap 1-bit Hamming scan shortlists
    * `coarseK` candidates per query, exact cosine reranks the
    * shortlist, report recall@k of the final top-k vs brute force —
    * THE production ANN architecture (quantized coarse scan + rerank):
    * the full-precision vectors are touched for only coarseK rows per
    * query instead of the whole corpus, so the expensive kernel runs
    * on |queries|·coarseK rows while the corpus-wide pass reads 8-byte
    * codes.
    *
    * Scale shape: stage 1 is [[knnBq]]'s broadcast-query code scan with
    * a bounded top-coarseK aggregate; stage 2 joins the shortlist back
    * to the vector table BY ID (shuffle ∝ |queries|·coarseK) and
    * reranks with the codegen'd cosine. */
  def bqRerank(spark: SparkSession, dir: String, nQueries: Int = 20,
               coarseK: Int = 100, k: Int = 10): DataFrame = {
    val codes = bqTable(spark, dir)
    val emb = Tables(spark, dir).embeddings
    val q = broadcast(codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("code_lo").as("q_lo"), col("code_hi").as("q_hi")))
    val shortlist = codes.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (expr("bit_count(code_lo ^ q_lo)") +
          expr("bit_count(code_hi ^ q_hi)")).cast("double").as("ham"))
      .groupBy("query_id")
      .agg(topK(col("vec_id"), -col("ham"), coarseK).as("nn"))
      .select(col("query_id"), explode(col("nn.neighbor_id")).as("vec_id"))
    val qv = broadcast(emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val reranked = shortlist
      .join(emb.select("vec_id", "embedding"), "vec_id")
      .join(qv, "query_id")
      .select(col("query_id"), col("vec_id"),
        cosineSim(col("q_emb"), col("embedding")).as("sim"))
      .groupBy("query_id")
      .agg(topK(col("vec_id"), col("sim"), k).as("nn"))
      .select(col("query_id"),
        explode(col("nn.neighbor_id")).as("neighbor_id"), lit(1).as("hit"))
    knnBrute(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
      .join(reranked, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_hits"),
        round(count(col("hit")) / (k * 1.0), 4).as(s"recall_at_$k"))
      .orderBy("query_id")
  }

  /** Matryoshka-truncation recall: rank by cosine over only the FIRST
    * `dims` coordinates (the MRL deployment trick — embeddings trained
    * so prefixes are usable sub-embeddings let you trade dimensions for
    * throughput at query time) and report recall@k against the
    * full-dimension exact ranking.
    *
    * Scale shape: the truncated search is [[knnBrute]] with a map-side
    * `slice` — the scan touches dims/64 of the vector bytes; the
    * compare is a k·|queries|-row join. */
  def matryoshkaRecall(spark: SparkSession, dir: String, dims: Int = 16,
                       nQueries: Int = 20, k: Int = 10): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val q = broadcast(emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        slice(col("embedding"), 1, dims).as("q_emb")))
    val trunc = emb.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineSim(col("q_emb"), slice(col("embedding"), 1, dims)).as("sim"))
      .groupBy("query_id")
      .agg(topK(col("vec_id"), col("sim"), k).as("nn"))
      .select(col("query_id"), explode(col("nn.neighbor_id")).as("neighbor_id"),
        lit(1).as("hit"))
    knnBrute(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
      .join(trunc, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_hits"),
        round(count(col("hit")) / (k * 1.0), 4).as(s"recall_at_$k"))
      .orderBy("query_id")
  }

  /** IVF accuracy/cost sweep: recall@k and scored-candidate count at
    * each nProbe level — the tuning curve every ANN deployment reads
    * before picking its operating point (probe more cells ⇒ recall up,
    * scan cost up, linearly visible in n_candidates).
    *
    * Scale shape: ONE memoized trained index serves every sweep point
    * (training never re-runs); the probe ranking is computed once and
    * filtered per level; the exact baseline is the memoized
    * broadcast-query brute pass. Output: |probes| rows. The per-level
    * hit counts are exact integers, so mean_recall = hits/(q·k) is
    * engine-exact (hits·50 is an integer at the 4-dp grid). */
  def ivfProbeSweep(spark: SparkSession, dir: String,
                    probes: Seq[Int] = Seq(1, 2, 4, 8),
                    nQueries: Int = 20, k: Int = 10): DataFrame = {
    val (emb, centroids, _, index) = ivfIndex(spark, dir, 16)
    val q = queriesOf(emb, nQueries)
    val probeRank = q.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("q_emb"), col("cell"),
        cosineSim(col("q_emb"), col("centroid")).as("csim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("csim").desc, col("cell").asc)))
    val brute = knnBrute(spark, dir, nQueries, k)
      .select("query_id", "neighbor_id")
    // score ONCE at the deepest level (r9, the ivfpq-sweep lesson):
    // a candidate lives in exactly one cell, so its cosine is
    // level-invariant — the probing rank of its cell rides along and
    // every sweep level is a pure filter of the one scored table
    // (r11: probe list broadcast against the member leaf, like knnIvf)
    val maxP = probes.max
    val scope = new graft.Materialize.Scoped
    val scoredAll = scope.table(broadcast(probeRank.filter(col("rk") <= maxP)
      .select("query_id", "q_emb", "cell", "rk"))
      .join(index, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("rk"),
        cosineSim(col("q_emb"), col("embedding")).as("sim")))
    // r11: ALL levels in two actions instead of two per level — the
    // candidate counts are |levels| conditional sums in one 1-row agg,
    // and the per-level top-k tables union into ONE brute-join whose
    // per-level hit counts come back as a |levels|-row collect (the
    // counts and the math are identical to the former per-level loop).
    val lv = probes.sorted
    // coalesce (r12, ADVICE): sum() over an EMPTY scoredAll is NULL and
    // getLong would NPE where the former per-level count() returned 0
    val candCols = lv.map(p =>
      coalesce(sum(when(col("rk") <= p, 1L).otherwise(0L)), lit(0L)).as(s"c$p"))
    val candRow = scoredAll.agg(candCols.head, candCols.tail: _*).head()
    val nCandByLevel = lv.zipWithIndex.map { case (p, i) =>
      p -> candRow.getLong(i)
    }.toMap
    val topByLevel = lv.map { p =>
      scoredAll.filter(col("rk") <= p)
        .groupBy("query_id")
        .agg(topK(col("vec_id"), col("sim"), k).as("nn"))
        .select(lit(p).as("n_probe"), col("query_id"),
          explode(col("nn.neighbor_id")).as("neighbor_id"))
    }.reduce(_ union _)
    val hitsByLevel = brute
      .join(topByLevel, Seq("query_id", "neighbor_id"))
      .groupBy("n_probe").agg(count(lit(1)).as("hits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = lv.map { p =>
      val hits = hitsByLevel.getOrElse(p, 0L)
      (p, nCandByLevel(p),
        math.round(hits.toDouble / (nQueries * k) * 10000) / 10000.0)
    }
    scope.free()
    import spark.implicits._
    rows.toDF("n_probe", "n_candidates", "mean_recall").orderBy("n_probe")
  }

  /** IVF-PQ accuracy/cost sweep — [[ivfProbeSweep]]'s nProbe curve on
    * the PRODUCTION index (coarse cells + residual PQ codes) instead of
    * raw-vector IVF: recall@k and scored-candidate count per nProbe
    * level, where scoring is the all-integer ADC ranking of
    * [[knnIvfPq]]. IVF-only sweeps OVERSTATE recall at equal nProbe
    * (they score exact vectors); this is the dial a deployment actually
    * tunes. One more consumer of the session-memoized [[ivfpqIndex]]
    * (training never re-runs); the probe ranking and the per-(query,
    * probed cell) residual LUT are computed ONCE to the deepest level
    * and filtered per level — each level's marginal cost is one
    * broadcast-LUT join over the probed code streams. Output |probes|
    * rows (n_probe, n_candidates, mean_recall); hit counts are exact
    * integers so the 4-dp mean is engine-exact. */
  def ivfpqProbeSweep(spark: SparkSession, dir: String,
                      probes: Seq[Int] = Seq(1, 2, 4, 8),
                      nQueries: Int = 20, k: Int = 10): DataFrame = {
    val (dim, m, cells, codes) = (64, 4, 16, 16)
    val sub = dim / m
    val (centroids, assigned, cb, enc) = ivfpqIndex(spark, dir, cells, m, codes, dim)
    val emb = Tables(spark, dir).embeddings
    val q = queriesOf(emb, nQueries)
    val maxP = probes.max
    val probeRank = q.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("q_emb"), col("cell"), col("centroid"),
        cosineSim(col("q_emb"), col("centroid")).as("csim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("csim").desc, col("cell").asc)))
      .filter(col("rk") <= maxP)
    val qsub = probeRank.select(col("query_id"), col("cell"), col("rk"),
      zip_with(col("q_emb"), col("centroid"),
        (x, c) => x.cast("double") - c.cast("double")).as("qr"))
      .select(col("query_id"), col("cell"), col("rk"), posexplode(
        array((0 until m).map(i =>
          slice(col("qr"), i * sub + 1, sub)): _*)).as(Seq("m", "qv")))
      .withColumn("qi", transform(col("qv"), micro(_)))
    // |queries|·maxP·m·codes rows — tiny; rk rides along so each sweep
    // level is a filter of the one LUT
    val lut = qsub
      .join(broadcast(cb.withColumn("cbi", transform(col("centroid"), micro(_)))),
        Seq("m"))
      .select(col("query_id"), col("cell"), col("rk"), col("m"), col("code"),
        aggregate(zip_with(col("qi"), col("cbi"),
          (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2"))
    val brute = knnBrute(spark, dir, nQueries, k)
      .select("query_id", "neighbor_id")
    // score ONCE at the deepest level: every vector lives in exactly
    // one cell, so its level-p ADC distance is the same wherever its
    // cell is probed — the rk of the candidate's cell rides along and
    // each sweep level is a pure FILTER of the one scored table (the
    // r9 first cut re-scored the code streams per level: 4 scans
    // where one suffices)
    val scope = new graft.Materialize.Scoped
    val scoredAll = scope.table(enc // (cell, vec_id, m, code) since r11
      .join(broadcast(lut), Seq("cell", "m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id", "rk")
      .agg(sum("d2").as("adc_d2")))
    // r11: two actions for the whole sweep (the ivfProbeSweep move) —
    // |levels| conditional sums in one 1-row agg, per-level top-k
    // tables unioned into one brute-join collect. Same counts, same
    // rounding as the former per-level loop.
    val lv = probes.sorted
    // coalesce (r12, ADVICE): NULL-sum guard, same as ivfProbeSweep
    val candCols = lv.map(p =>
      coalesce(sum(when(col("rk") <= p, 1L).otherwise(0L)), lit(0L)).as(s"c$p"))
    val candRow = scoredAll.agg(candCols.head, candCols.tail: _*).head()
    val nCandByLevel = lv.zipWithIndex.map { case (p, i) =>
      p -> candRow.getLong(i)
    }.toMap
    val topByLevel = lv.map { p =>
      scoredAll.filter(col("rk") <= p)
        .groupBy("query_id")
        .agg(topK(col("vec_id"), -col("adc_d2").cast("double"), k).as("nn"))
        .select(lit(p).as("n_probe"), col("query_id"),
          explode(col("nn.neighbor_id")).as("neighbor_id"))
    }.reduce(_ union _)
    val hitsByLevel = brute
      .join(topByLevel, Seq("query_id", "neighbor_id"))
      .groupBy("n_probe").agg(count(lit(1)).as("hits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = lv.map { p =>
      val hits = hitsByLevel.getOrElse(p, 0L)
      (p, nCandByLevel(p),
        math.round(hits.toDouble / (nQueries * k) * 10000) / 10000.0)
    }
    scope.free()
    import spark.implicits._
    rows.toDF("n_probe", "n_candidates", "mean_recall").orderBy("n_probe")
  }

  /** Maximum-inner-product search: top-k by RAW dot product, no
    * normalization — the recommender-retrieval ranking, where item
    * popularity lives in the vector norm and cosine would erase it.
    * Output (query_id, rank, neighbor_id); the float score is dropped,
    * ranking-only, like the other float-scored searches.
    *
    * Scale shape: [[knnBrute]]'s broadcast-query single-corpus-pass
    * plan with the codegen'd [[graft.functions.DotProduct]] kernel and
    * the map-side bounded top-k aggregate. */
  def mipsTopK(spark: SparkSession, dir: String,
               nQueries: Int = 20, k: Int = 10): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val q = broadcast(queriesOf(emb, nQueries))
    emb.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.DotProduct.dotProduct(
          col("q_emb"), col("embedding")).as("score"))
      .groupBy("query_id")
      .agg(topK(col("vec_id"), col("score"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("rank0", "nn")))
      .select(col("query_id"), (col("rank0") + 1).as("rank"),
        col("nn.neighbor_id").as("neighbor_id"))
  }
}
