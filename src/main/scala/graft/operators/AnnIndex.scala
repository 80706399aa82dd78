package graft.operators

import graft.Tables
import graft.functions.CosineSimilarity.cosineSim
import graft.functions.TopKByScore.topK
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED vector-index artifact — the ANN twin of the band-index
  * lifecycle ([[Dedup.writeBandIndex]] / [[Dedup.writeIndexGeneration]]
  * / [[Dedup.loadBandIndexGenerations]]), closing the one asymmetry the
  * r10 verdict named between the text and embedding dedup stories: the
  * trained IVF centroids, residual-PQ codebooks and the encoded corpus
  * become a nightly parquet artifact a scheduled pipeline loads, so the
  * streaming semantic probe survives a JVM restart WITHOUT retraining
  * and a nightly delta is encoded at cost ∝ |delta|.
  *
  * Layout under `root` — the model/member split is what makes vector
  * generations correct (unlike the text side, generations here MUST
  * share one coarse quantizer: members assigned by night-2 centroids
  * would live in cells night-1 probes never visit):
  *
  *   - `model/centroids/`  (cell, centroid: array<float>) — the coarse
  *     IVF quantizer, trained ONCE at [[writeVectorIndex]] time (the
  *     FAISS contract: train once, add forever);
  *   - `model/codebooks/`  (m, code, centroid: array<float>) — the
  *     residual-PQ codebooks (trained on vector − cell-centroid
  *     residuals, exactly the session [[Ann.ivfpqIndex]] pipeline);
  *   - `gen=N/vectors/cell=K/…` (vec_id, embedding) — the raw members,
  *     HIVE-PARTITIONED BY CELL: a probe of one cell is a directory
  *     prune, so at 100 TB a search reads nProbe/cells of the corpus
  *     straight off the layout (AnnIndexSpec pins the pruning);
  *   - `gen=N/codes/`      (cell, vec_id, m, code) — the 4-byte ADC
  *     scan replacing 256 bytes of floats per vector.
  *
  * `gen=1` is written by [[writeVectorIndex]] (which also trains the
  * model); `gen=N+1` by [[writeVectorGeneration]], which signs ONLY the
  * arriving slice against the LOADED model — the base corpus is never
  * re-read, re-assigned or re-encoded. The live index is the union of
  * all generations under the one model; a rotation writes gen=N+1 and
  * restarts the streaming probe onto the re-loaded union
  * ([[graft.streaming.EventStreams.rotateSemanticProbe]]) with its
  * checkpoint intact — nothing reprocessed, nothing lost.
  */
object AnnIndex {

  /** Loaded handles of a persisted vector index: lazy parquet scans. */
  final case class VectorIndex(centroids: DataFrame, codebooks: DataFrame,
                               vectors: DataFrame, codes: DataFrame)

  private val Dim = 64

  /** Train the full IVF + residual-PQ model on `emb` and write the
    * artifact (model + gen=1 members) under `root`. Training is the
    * EXACT session pipeline ([[Ann.kmeansCentroids]] 3 Lloyd rounds,
    * residuals, [[Ann.pqCodebooks]] 2 rounds) with the same integer
    * discipline, so a search over the loaded artifact reproduces the
    * session-memoized [[Ann.knnIvfPq]] bit-for-bit (spec-pinned). */
  def writeVectorIndex(emb: DataFrame, root: String, cells: Int = 16,
                       m: Int = 4, codes: Int = 16): Unit = {
    require(!emb.columns.contains("cell"),
      "'cell' is the index's partition column — rename the input column")
    // ALL input columns ride into the vectors table (r11): metadata
    // like `label` persists next to each member, which is what makes
    // filtered search over the stored layout possible (knnIndexedFiltered)
    // every table cached here is freed on the way out (the centroids
    // are a local table and need no cache)
    val scope = new graft.Materialize.Scoped
    try {
      val e = scope.table(emb)
      val centroids = Ann.kmeansCentroids(e, cells)
      centroids.write.mode("overwrite").parquet(s"$root/model/centroids")
      val assigned = scope.table(Ann.assignCells(e, centroids))
      val cb = scope.table(
        Ann.pqCodebooks(residuals(e, assigned, centroids), m, codes,
          iters = 2, dim = Dim))
      cb.write.mode("overwrite").parquet(s"$root/model/codebooks")
      writeMembers(e, assigned, centroids, cb, root, gen = 1L, m)
    } finally scope.free()
  }

  /** Encode a NEW slice against the LOADED model and write it as the
    * next generation — the nightly append, at cost ∝ |newVecs| (the
    * model is two tiny scans; no base member is touched). Returns the
    * new generation id. */
  def writeVectorGeneration(newVecs: DataFrame, root: String,
                            m: Int = 4): Long = {
    val spark = newVecs.sparkSession
    val next = Dedup.latestGeneration(spark, root) + 1L
    require(next >= 2L,
      s"no model under $root — write the base index with writeVectorIndex first")
    require(!newVecs.columns.contains("cell"),
      "'cell' is the index's partition column — rename the input column")
    val centroids = spark.read.parquet(s"$root/model/centroids")
    val cb = spark.read.parquet(s"$root/model/codebooks")
    val scope = new graft.Materialize.Scoped
    try {
      val e = scope.table(newVecs)
      val assigned = scope.table(Ann.assignCells(e, centroids))
      writeMembers(e, assigned, centroids, cb, root, next, m)
    } finally scope.free()
    next
  }

  /** vector − its-cell-centroid, as raw double differences (the
    * session pipeline's exactness contract — see Ann.ivfpqIndex). */
  private def residuals(e: DataFrame, assigned: DataFrame,
                        centroids: DataFrame): DataFrame =
    e.join(assigned, "vec_id")
      .join(broadcast(centroids), "cell")
      .select(col("vec_id"), zip_with(col("embedding"), col("centroid"),
        (x, c) => x.cast("double") - c.cast("double")).as("embedding"))

  /** The one member writer behind both entry points: write the
    * cell-assigned members (`gen=N/vectors`, hive-partitioned by cell)
    * and their residual-PQ codes (`gen=N/codes`) under the given
    * (loaded or just-trained) model. */
  private def writeMembers(e: DataFrame, assigned: DataFrame,
                           centroids: DataFrame, cb: DataFrame,
                           root: String, gen: Long, m: Int): Unit = {
    e.join(assigned, "vec_id")
      .select(e.columns.map(col) :+ col("cell"): _*)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/gen=$gen/vectors")
    val resid = residuals(e, assigned, centroids)
    val sub = Dim / m
    val subvecs = resid.select(col("vec_id"), posexplode(
      array((0 until m).map(i =>
        slice(col("embedding"), i * sub + 1, sub)): _*)).as(Seq("m", "sv")))
    Ann.assignPqCodes(subvecs, cb)
      .join(assigned, "vec_id")
      .select(col("cell"), col("vec_id"), col("m"), col("code"))
      .write.mode("overwrite").parquet(s"$root/gen=$gen/codes")
  }

  /** Load a persisted vector index: the model plus the union of every
    * generation's members — four lazy parquet scans (the per-gen dirs
    * are listed once at load; a later rotation requires a re-load,
    * which is the rotation contract, same as the band index). */
  def loadVectorIndex(spark: SparkSession, root: String): VectorIndex = {
    val gens = 1L to Dedup.latestGeneration(spark, root)
    require(gens.nonEmpty, s"no gen=N directories under $root")
    def union(sub: String): DataFrame = gens.map { g =>
      spark.read.parquet(s"$root/gen=$g/$sub").withColumn("gen", lit(g))
    }.reduce(_.unionByName(_))
    VectorIndex(
      spark.read.parquet(s"$root/model/centroids"),
      spark.read.parquet(s"$root/model/codebooks"),
      union("vectors"), union("codes"))
  }

  /** Periodic generation COMPACTION — the vector twin of
    * [[Dedup.compactIndexGenerations]]: rewrite the union of every
    * generation's members as a single fresh `gen=1` under `outRoot`,
    * with the model COPIED UNCHANGED (generations share one coarse
    * quantizer by construction, so compaction is a pure re-layout —
    * no re-assignment, no re-encoding, no retraining; cells and codes
    * are carried as stored). What it reclaims at scale: per-probe file
    * fan-out — a cell spread over g generations is g directory reads
    * per probe, one after compaction. Probe and ADC-search semantics
    * are identical before/after (spec-pinned). */
  def compactGenerations(spark: SparkSession, root: String,
                         outRoot: String): Unit = {
    require(new org.apache.hadoop.fs.Path(root) !=
      new org.apache.hadoop.fs.Path(outRoot),
      "compact into a fresh root, then swap directories atomically")
    val idx = loadVectorIndex(spark, root)
    idx.centroids.write.mode("overwrite")
      .parquet(s"$outRoot/model/centroids")
    idx.codebooks.write.mode("overwrite")
      .parquet(s"$outRoot/model/codebooks")
    idx.vectors
      .select(idx.vectors.columns.filter(_ != "gen").map(col): _*)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$outRoot/gen=1/vectors")
    idx.codes.select(col("cell"), col("vec_id"), col("m"), col("code"))
      .write.mode("overwrite").parquet(s"$outRoot/gen=1/codes")
  }

  /** Semantic near-dup pairs of a DELTA against a LOADED index — the
    * nightly embedding-side operation (the ANN twin of
    * [[Dedup.deltaDupPairs]]): each delta vector is assigned its cell
    * against the loaded centroids (the same (sim, cell) struct-max as
    * the session assign, so artifact and session agree on candidacy),
    * then compared by exact cosine against ONLY that cell's stored
    * members. The base corpus enters through the index parquet alone —
    * nothing is retrained, no base×base pair forms, and the
    * cell-partitioned layout means a cluster reads 1/cells of the
    * artifact per probed cell (AnnIndexSpec pins index-files-only
    * scans). Returns (delta_id, base_id, cos ≥ threshold, 6-dp). */
  def deltaSemanticPairs(index: VectorIndex, delta: DataFrame,
                         threshold: Double = 0.35): DataFrame = {
    val d = delta.select(col("vec_id"), col("embedding"))
    val assigned = Ann.assignCells(d, index.centroids)
    d.join(assigned, "vec_id")
      .join(index.vectors.select(col("cell"),
        col("vec_id").as("base_id"), col("embedding").as("memb")), "cell")
      .filter(col("base_id") =!= col("vec_id"))
      .select(col("vec_id").as("delta_id"), col("base_id"),
        cosineSim(col("embedding"), col("memb")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("delta_id"), col("base_id"), round(col("cos"), 6).as("cos"))
  }

  /** IVF-PQ ADC search over the LOADED artifact — identical semantics
    * to the session [[Ann.knnIvfPq]] (probe the nProbe cosine-nearest
    * cells, per-probed-cell query residual LUT, exact micro-int ADC
    * distance, rank (adc_d2 asc, id asc)), reading centroids/codebooks/
    * codes from parquet instead of the session memo. At 100 TB this IS
    * the production search path: the scan side is the 4-byte code
    * table, cell-keyed; the LUT is a |q|·nProbe·m·codes broadcast.
    * Queries: (query_id, q_emb). */
  def knnIndexed(index: VectorIndex, queries: DataFrame, k: Int = 10,
                 m: Int = 4, nProbe: Int = 4): DataFrame = {
    val sub = Dim / m
    val probes = queries.crossJoin(broadcast(index.centroids))
      .select(col("query_id"), col("q_emb"), col("cell"), col("centroid"),
        cosineSim(col("q_emb"), col("centroid")).as("csim"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("csim").desc, col("cell").asc)))
      .filter(col("rk") <= nProbe)
    val qsub = probes.select(col("query_id"), col("cell"),
      zip_with(col("q_emb"), col("centroid"),
        (x, c) => x.cast("double") - c.cast("double")).as("qr"))
      .select(col("query_id"), col("cell"), posexplode(
        array((0 until m).map(i =>
          slice(col("qr"), i * sub + 1, sub)): _*)).as(Seq("m", "qv")))
      .withColumn("qi", transform(col("qv"), Ann.micro(_)))
    val lut = qsub
      .join(broadcast(index.codebooks
        .withColumn("cbi", transform(col("centroid"), Ann.micro(_)))), Seq("m"))
      .select(col("query_id"), col("cell"), col("m"), col("code"),
        aggregate(zip_with(col("qi"), col("cbi"),
          (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2"))
    index.codes.join(broadcast(lut), Seq("cell", "m", "code"))
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

  /** FILTERED search over the STORED layout — the artifact-side twin
    * of [[Ann.knnFilteredIvf]] (r11): the `label` metadata persisted
    * next to each member (see [[writeVectorIndex]]) lets the
    * predicate apply at the index SCAN stage — per query only the
    * nProbe probed cells' members are read, non-matching members drop
    * before any full-vector distance, and the base corpus never
    * enters (spec: index-files-only scans; row-identical to the
    * session `knnFilteredIvf` when the artifact is written from the
    * same corpus). Queries: (query_id, q_emb, q_label). Thin labels
    * yield short lists — the shared filtered-search contract. */
  def knnIndexedFiltered(index: VectorIndex, queries: DataFrame,
                         k: Int = 10, nProbe: Int = 4): DataFrame = {
    val probes = queries.crossJoin(broadcast(index.centroids))
      .select(col("query_id"), col("q_label"), col("q_emb"), col("cell"),
        cosineSim(col("q_emb"), col("centroid")).as("csim"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("csim").desc, col("cell").asc)))
      .filter(col("rk") <= nProbe)
      .select("query_id", "q_label", "q_emb", "cell")
    probes.join(index.vectors
        .select(col("cell"), col("vec_id"), col("embedding"), col("label")),
      "cell")
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

  // one persisted index per (session, dir): written once, then every
  // incremental query probes the LOADED artifact — the same memo
  // pattern as Dedup's bandIndexPathCache
  private val vectorIndexPathCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Incremental SEMANTIC dedup report — the embedding twin of
    * `d_incremental_dedup`, running the REAL nightly dataflow: the
    * base corpus's vector index is WRITTEN once per session
    * ([[writeVectorIndex]] — the artifact a nightly job keeps) and the
    * delta (the deterministic vec_id % 7 == 3 slice, ≈14%) probes the
    * LOADED parquet at cost ∝ |delta|. Per label: how many arriving
    * vectors are semantic near-dups (cos ≥ threshold against some
    * stored member of their assigned cell). Candidacy is
    * cell-assignment-determined, and training is the deterministic
    * portable pipeline, so the whole dataflow — training included —
    * replays in the DuckDB oracle. */
  def incrementalSemDedup(spark: SparkSession, dir: String,
                          threshold: Double = 0.35): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    def isDelta(c: org.apache.spark.sql.Column) = pmod(c, lit(7)) === 3
    val idxPath = vectorIndexPathCache.getOrElseUpdate(
      graft.GraftSession.sessionKey(spark, dir), {
        val p = java.nio.file.Files
          .createTempDirectory("graft-vector-index").toString
        writeVectorIndex(emb.filter(!isDelta(col("vec_id"))), p)
        p
      })
    val idx = loadVectorIndex(spark, idxPath)
    val dups = deltaSemanticPairs(idx, emb.filter(isDelta(col("vec_id"))),
      threshold)
      .select(col("delta_id").as("vec_id")).distinct()
      .withColumn("dup", lit(1))
    emb.filter(isDelta(col("vec_id")))
      .select("vec_id", "label")
      .join(dups, Seq("vec_id"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_new"),
        coalesce(sum("dup"), lit(0L)).as("n_dup"),
        round(coalesce(sum("dup"), lit(0L)) / count(lit(1)).cast("double"), 4)
          .as("dup_rate"))
      .orderBy("label")
  }
}
