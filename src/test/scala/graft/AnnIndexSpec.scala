package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the persisted VECTOR-index dataflow (VERDICT r10 "Next #1" —
  * the embedding twin of BandIndexSpec):
  *
  *   1. ADC search over the written-then-LOADED artifact reproduces
  *      the session-memoized `Ann.knnIvfPq` row-for-row (training is
  *      the same deterministic pipeline, so artifact and session are
  *      one index);
  *   2. the delta probe scans ONLY the index parquet — the base corpus
  *      enters through the artifact alone, never re-read or retrained;
  *   3. the cell-partitioned `vectors` layout really prunes: a
  *      single-cell lookup's file set lives entirely under that cell's
  *      directory;
  *   4. the nightly generation append encodes only the arriving slice
  *      under the UNCHANGED model, and the loaded union probes both
  *      generations.
  */
class AnnIndexSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.operators.{Ann, AnnIndex}

  /** Deterministic synthetic corpus: 64-dim float vectors. */
  private def synthVec(i: Long): Array[Float] =
    Array.tabulate(64)(j => math.sin(i.toDouble * 64 + j).toFloat)

  private def synthCorpus(ids: Seq[Long]) = {
    import SparkTestSession.spark.implicits._
    ids.map(i => (i, synthVec(i))).toDF("vec_id", "embedding")
  }

  test("loaded-index ADC search == session knnIvfPq") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-vec-index").toString
    val emb = Tables(spark, sf).embeddings
    AnnIndex.writeVectorIndex(emb, root)
    val idx = AnnIndex.loadVectorIndex(spark, root)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id", "adc_d2")
        .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue,
          r.getLong(2), r.getLong(3))).toSeq
    val loaded = rows(AnnIndex.knnIndexed(idx, queries))
    val session = rows(Ann.knnIvfPq(spark, sf))
    assert(loaded.nonEmpty)
    assert(loaded == session,
      s"loaded diverges from session: " +
        s"only-loaded=${loaded.diff(session).take(5)}, " +
        s"only-session=${session.diff(loaded).take(5)}")
  }

  test("delta probe scans ONLY the index artifact and flags planted dups") {
    val base = synthCorpus(0L until 40L)
    val root = java.nio.file.Files
      .createTempDirectory("graft-vec-index2").toString
    AnnIndex.writeVectorIndex(base, root)
    val idx = AnnIndex.loadVectorIndex(spark, root)
    import SparkTestSession.spark.implicits._
    val delta = Seq(
      (100L, synthVec(5L)),                      // exact copy of base 5
      (101L, synthVec(7L).map(x => x * 2.5f)),   // scaled copy of base 7
      (102L, Array.tabulate(64)(j => if (j == 0) 1f else 0f))) // novel
      .toDF("vec_id", "embedding")
    // 0.999: the sin-family corpus self-correlates up to ~0.992, so
    // only the planted exact/scaled copies can clear the threshold
    val out = AnnIndex.deltaSemanticPairs(idx, delta, threshold = 0.999)
    // delta is an in-memory relation ⇒ every scanned FILE must belong
    // to the artifact (the BandIndexSpec contract, vector side)
    val canon = java.nio.file.Paths.get(root).toRealPath().toString
    val files = out.inputFiles
    assert(files.nonEmpty)
    files.foreach { f =>
      val p = f.replaceFirst("^file:/+", "/")
      assert(p.startsWith(canon) || p.startsWith(root),
        s"plan scans non-index file: $f")
    }
    val got = out.select("delta_id", "base_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(g => (g._1, g._2)).toSet == Set((100L, 5L), (101L, 7L)),
      s"planted dups wrong: $got")
    assert(got.forall(_._3 == 1.0),
      s"exact/scaled copies must score cos 1.0: $got")
  }

  test("cell-partitioned vectors prune to the probed cell's directory") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-vec-index3").toString
    AnnIndex.writeVectorIndex(synthCorpus(0L until 40L), root)
    val idx = AnnIndex.loadVectorIndex(spark, root)
    val someCell = idx.vectors.select("cell").head().getInt(0)
    val lookup = idx.vectors.filter(col("cell") === someCell)
    assert(lookup.count() > 0)
    // the files ACTUALLY read at execution (DataFrame.inputFiles lists
    // the relation's whole file set, pre-pruning — useless here)
    val files = lookup.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty)
    files.foreach(f => assert(f.contains(s"cell=$someCell"),
      s"single-cell probe read outside its partition: $f"))
  }

  test("generation append: unchanged model, union probes both gens") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-vec-gen").toString
    AnnIndex.writeVectorIndex(synthCorpus(0L until 40L), root)
    def modelState(): Seq[(String, Long, Long)] = {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def ls(sub: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/model/$sub"))
        .filter(_.isFile)
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSeq
      (ls("centroids") ++ ls("codebooks")).sortBy(_._1)
    }
    val before = modelState()
    // night 2: only the arriving slice is encoded against the model
    assert(AnnIndex.writeVectorGeneration(
      synthCorpus(200L until 210L), root) == 2L)
    assert(modelState() == before,
      "append must not retrain or rewrite the model")
    val idx = AnnIndex.loadVectorIndex(spark, root)
    import SparkTestSession.spark.implicits._
    val probes = Seq(
      (300L, synthVec(205L)), // dup findable ONLY through gen 2
      (301L, synthVec(11L)))  // gen-1 member still reachable via union
      .toDF("vec_id", "embedding")
    val hits = AnnIndex.deltaSemanticPairs(idx, probes, threshold = 0.999)
      .select("delta_id", "base_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // containment, not equality: the sin-family corpus aliases near
    // 2πk offsets (e.g. base 6 vs 205), and those genuine ≥0.999
    // cosines are CORRECT probe output
    assert(hits.contains((300L, 205L)),
      s"gen-2 member not reachable through the loaded union: $hits")
    assert(hits.contains((301L, 11L)),
      s"gen-1 member lost after rotation append: $hits")
    // a generation write before any model exists must fail loudly
    val empty = java.nio.file.Files
      .createTempDirectory("graft-vec-nogen").toString
    intercept[IllegalArgumentException] {
      AnnIndex.writeVectorGeneration(synthCorpus(0L until 4L), empty)
    }
  }

  test("filtered search over the stored layout == session knnFilteredIvf") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-vec-filtered").toString
    val emb = Tables(spark, sf).embeddings
    AnnIndex.writeVectorIndex(emb, root)
    val idx = AnnIndex.loadVectorIndex(spark, root)
    // the artifact carries the metadata column next to each member
    assert(idx.vectors.columns.contains("label"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val out = AnnIndex.knnIndexedFiltered(idx, queries)
    // the artifact is the ONLY data source: queries aside, every
    // scanned file must live under the index root
    val canon = java.nio.file.Paths.get(root).toRealPath().toString
    val files = out.inputFiles
    assert(files.nonEmpty)
    files.foreach { f =>
      val p = f.replaceFirst("^file:/+", "/")
      assert(p.startsWith(canon) || p.startsWith(root) ||
        p.contains("/embeddings.parquet"),
        s"plan scans non-index file: $f")
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "label", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getAs[Number](2).longValue,
          r.getLong(3))).toSeq
    val loaded = rows(out)
    val session = rows(graft.operators.Ann.knnFilteredIvf(spark, sf))
    assert(loaded.nonEmpty)
    assert(loaded == session,
      s"stored-layout filtered search diverges: " +
        s"only-loaded=${loaded.diff(session).take(5)}, " +
        s"only-session=${session.diff(loaded).take(5)}")
  }

  test("generation compaction: single gen, unchanged model, same results") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-vec-compact").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-vec-compact-out").toString
    AnnIndex.writeVectorIndex(synthCorpus(0L until 40L), root)
    assert(AnnIndex.writeVectorGeneration(
      synthCorpus(200L until 210L), root) == 2L)
    AnnIndex.compactGenerations(spark, root, out)
    assert(graft.operators.Dedup.latestGeneration(spark, out) == 1L)
    val before = AnnIndex.loadVectorIndex(spark, root)
    val after = AnnIndex.loadVectorIndex(spark, out)
    // model copied unchanged (compaction never retrains)
    def cents(i: AnnIndex.VectorIndex) = i.centroids.collect()
      .map(r => (r.getInt(r.fieldIndex("cell")),
        r.getSeq[Float](r.fieldIndex("centroid")))).toMap
    assert(cents(before) == cents(after))
    // members preserved across the re-layout, schema included
    assert(before.vectors.count() == after.vectors.count())
    assert(before.codes.count() == after.codes.count())
    assert(after.vectors.columns.sorted.toSeq ==
      before.vectors.columns.sorted.toSeq)
    // probe and ADC search identical before/after
    import SparkTestSession.spark.implicits._
    val probes = Seq((300L, synthVec(205L)), (301L, synthVec(11L)))
      .toDF("vec_id", "embedding")
    def hits(i: AnnIndex.VectorIndex) =
      AnnIndex.deltaSemanticPairs(i, probes, threshold = 0.999)
        .select("delta_id", "base_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits(before) == hits(after))
    val queries = Seq((0L, synthVec(0L)), (7L, synthVec(7L)))
      .toDF("query_id", "q_emb")
    def search(i: AnnIndex.VectorIndex) =
      AnnIndex.knnIndexed(i, queries).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
          r.getLong(2), r.getLong(3))).toSeq
    assert(search(before) == search(after))
  }

  test("writing the index and a generation frees every table it caches") {
    val sc = spark.sparkContext
    def persisted() = sc.getPersistentRDDs.keySet.toSet
    // blocks are dropped asynchronously after unpersist: wait for it
    def storedSince(before: Set[Int]): Set[Int] = {
      def added() = sc.getRDDStorageInfo.map(_.id).toSet -- before
      val deadline = System.currentTimeMillis() + 30000
      var ids = added()
      while (ids.nonEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(50)
        ids = added()
      }
      ids
    }
    val root = java.nio.file.Files
      .createTempDirectory("graft-vec-index-storage").toString
    val emb = Tables(spark, sf).embeddings
    val before = persisted()
    val storedBefore = sc.getRDDStorageInfo.map(_.id).toSet
    AnnIndex.writeVectorIndex(emb.filter(col("vec_id") < 400), root)
    assert(persisted() -- before == Set.empty)
    assert(storedSince(storedBefore) == Set.empty)
    AnnIndex.writeVectorGeneration(emb.filter(col("vec_id") >= 400), root)
    assert(persisted() -- before == Set.empty)
    assert(storedSince(storedBefore) == Set.empty)
  }
}
