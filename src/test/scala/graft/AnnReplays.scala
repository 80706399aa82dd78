package graft

import graft.functions.CosineSimilarity.cosineSim
import graft.functions.TopKByScore.topK
import graft.operators.Ann
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The IVF index as plain DataFrame algebra — the pipeline the trained
  * index ran before its Lloyd rounds became one job each — kept as the
  * reference the specs compare the production path with:
  *
  *   - Lloyd rounds: nearest centroid as a greatest(struct(cosine,
  *     cell)) over centroid literals, then posexplode and a
  *     per-(cell, position) micro-int mean, collected back into arrays;
  *   - the index: assignments joined back to the corpus;
  *   - the IVF queries that read it, written over a given index.
  *
  * Every centroid mean is `round(S / n) / 1e6` as a float over exact
  * micro-int sums, so the production path must match bit for bit. */
object AnnReplays {

  /** Cell of the nearest centroid; needs at least one centroid. */
  private def nearest(cents: Array[(Int, Seq[Float])]) =
    if (cents.length == 1) lit(cents.head._1)
    else greatest(cents.map { case (c, v) =>
      struct(cosineSim(col("embedding"), typedLit(v)).as("sim"), lit(c).as("cell"))
    }.toIndexedSeq: _*).getField("cell")

  private def collectCents(centroids: DataFrame): Array[(Int, Seq[Float])] =
    centroids.select("cell", "centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))

  def kmeansCentroids(emb: DataFrame, cells: Int, iters: Int): DataFrame = {
    var centroids = emb.filter(col("vec_id") < cells)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    for (_ <- 1 to iters) {
      val cents = collectCents(centroids)
      centroids = emb
        .select(nearest(cents).as("cell"), col("embedding"))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg((round(sum(Ann.micro(col("x"))) / (count(lit(1)) * 1.0)).cast("long")
          / 1e6).as("m"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m").cast("float")).as("centroid"))
    }
    centroids
  }

  /** (centroids, assigned, members) of the 3-round index. */
  def ivfIndex(emb: DataFrame, cells: Int): (DataFrame, DataFrame, DataFrame) = {
    val centroids = kmeansCentroids(emb, cells, 3)
    val assigned = emb.select(col("vec_id"), nearest(collectCents(centroids)).as("cell"))
    (centroids, assigned, assigned.join(emb, "vec_id"))
  }

  def knnIvf(emb: DataFrame, centroids: DataFrame, members: DataFrame,
             nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    q.crossJoin(centroids)
      .select(col("query_id"), col("q_emb"), col("cell"),
        cosineSim(col("q_emb"), col("centroid")).as("csim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("csim").desc, col("cell").asc)))
      .filter(col("rk") <= nProbe)
      .join(members, "cell")
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

  def cellSizes(assigned: DataFrame): DataFrame = {
    val t = assigned.count()
    assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .select(col("cell"), col("n_vecs"),
        round(col("n_vecs") * 10000.0 / t).cast("long").as("share_per_10k"))
  }

  def semanticDedup(assigned: DataFrame, members: DataFrame,
                    threshold: Double): DataFrame = {
    val l = members.select(col("cell"), col("vec_id").as("a"), col("embedding").as("ea"))
    val r = members.select(col("cell"), col("vec_id").as("b"), col("embedding").as("eb"))
    val dupOf = l.join(r, "cell")
      .filter(col("a") < col("b") && cosineSim(col("ea"), col("eb")) >= threshold)
      .groupBy(col("b").as("vec_id"))
      .agg(min(col("a")).as("dup_of"))
    assigned.join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"), col("dup_of").isNull.as("keep"))
  }
}
