package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL surface for the native expressions: after `register(spark)`,
  * `spark.sql("SELECT cosine_sim(a, b) ...")` works — the same operators
  * are reachable from the DataFrame API, SQL, and (via the registry)
  * views or thrift-server clients. [[all]] is the one binding table;
  * `register` and [[graft.plans.GraftExtensions]] both iterate it.
  */
object GraftFunctions {

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (es => CosineSimilarity(es(0), es(1))),
    "minhash_sig" -> (es => MinHashSignature(es.head, numPerm = 128, seed = 42L)),
    "simhash64" -> (es => SimHash64(es.head, seed = 42L)),
    "hyperplane_lsh" -> (es => HyperplaneLsh(es.head, nBits = 48, seed = 42L)),
    "equal_fraction" -> (es => EqualFraction(es(0), es(1))),
    "jaccard_sorted" -> (es => JaccardSorted(es(0), es(1))),
    "sorted_intersect_count" -> (es => SortedLongIntersectCount(es(0), es(1))),
    "kth_absent" -> (es => KthAbsent(es(0), es(1))),
    "byte_stride" -> (es => ByteStride(es(0), es(1))),
    "avg_hash64" -> (es => AvgHash64(es.head)),
    "n2v_pick" -> (es => Node2vecPick(es(0), es(1), es(2), es(3))))

  def register(spark: SparkSession): Unit =
    all.foreach { case (name, f) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, f, "built-in")
    }
}
