package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Materialization helper for the session-lived memoized tables
  * (adjacency, triangle stream, LPA labels, samples, LSH pairs …).
  *
  * `table(df)` = persist → count → [[org.apache.spark.sql.graft.Bridge.flatten]]:
  * the cache is built through the normal AQE path, then the returned
  * frame is a LogicalRDD LEAF reading through that cache. Without the
  * flatten, memoized tables nest each other's logical plans and every
  * downstream action re-walks the shared DAG as a tree — driver-side
  * analysis measured in SECONDS per action at memo depth 4+ (see
  * Bridge.flatten). With it, consumers of a memo see a one-node plan
  * regardless of how the table was derived.
  */
object Materialize {
  def table(df: DataFrame,
            level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    build(df, level)._1

  /** Like [[table]], but ALSO returns the row count the build's
    * count() computed, so a reader that needs the size costs no
    * second job. */
  def tableWithCount(df: DataFrame,
            level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      : (DataFrame, Long) = {
    val (leaf, _, n) = build(df, level)
    (leaf, n)
  }

  /** Like [[table]], but ALSO returns the persisted handle — the frame
    * whose plan still matches the CacheManager entry. Loops that
    * REPLACE a materialized leaf (kcenterCoreset's running min-d2
    * table) must unpersist the handle: calling unpersist() on the
    * flattened leaf is a silent no-op (its LogicalRDD plan no longer
    * matches the entry `persist` registered), which left ~k/flattenEvery
    * corpus-size tables cached for the session (r12, ADVICE). */
  def tableWithHandle(df: DataFrame,
            level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      : (DataFrame, DataFrame) = {
    val (leaf, cached, _) = build(df, level)
    (leaf, cached)
  }

  /** persist → count → flatten: (leaf, persisted handle, row count). */
  private def build(df: DataFrame, level: StorageLevel)
      : (DataFrame, DataFrame, Long) = {
    val cached = df.persist(level)
    val n = cached.count()
    (org.apache.spark.sql.graft.Bridge.flatten(cached), cached, n)
  }

  /** Query-LOCAL materialization scope, for intermediates that are
    * read by several branches of ONE query and then never again —
    * unlike the session-lived memo tables above, these must be freed
    * when the query's result is computed, or every such query leaks
    * cached blocks for the session lifetime.
    *
    * `table(df)` persists+counts+flattens like [[Materialize.table]]
    * and remembers the handle; `seal(result)` (only valid for SMALL
    * results — the single-row/top-k reports these queries end in)
    * computes the result eagerly, unpersists every scoped handle, and
    * returns the rows as a local relation with the original schema, so
    * the caller's DataFrame no longer references the freed caches. */
  final class Scoped(level: StorageLevel = StorageLevel.MEMORY_AND_DISK) {
    private val acquired =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    def table(df: DataFrame): DataFrame = {
      val (leaf, cached, _) = build(df, level)
      acquired += cached
      leaf
    }

    def seal(result: DataFrame): DataFrame = {
      val rows = result.collect()
      free()
      result.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), result.schema)
    }

    /** Unpersist every scoped handle without sealing a result — for
      * loops whose consumers were all EAGER (counts/collects) and
      * whose return value no longer references the cached frames. */
    def free(): Unit = {
      acquired.foreach(_.unpersist(blocking = false))
      acquired.clear()
    }
  }
}
