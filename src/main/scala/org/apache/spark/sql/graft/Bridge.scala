package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made the conversion
  * `private[sql]` (Column is a thin ColumnNode wrapper in sql-api); an
  * extension library that ships native Catalyst expressions needs this
  * one-file shim in an `org.apache.spark.sql` subpackage — the same
  * pattern GraphFrames and Delta use.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Replace `df`'s logical plan with a [[org.apache.spark.sql.execution.LogicalRDD]]
    * leaf over its physical RDD.
    *
    * Why: long-lived memoized tables (adjacency, triangle stream, LPA
    * labels, …) nest each other's persisted lineages; every consumer
    * plan then embeds the whole DAG, and Catalyst re-walks that DAG as
    * a TREE on every action — analysis/canonicalization cost grows
    * exponentially with memo depth (measured: a two-column aggregate
    * over a cached 260k-row table spent 5-15 s in the driver, zero
    * executor jobs, because its printed plan held 845 nested
    * InMemoryTableScans). A LogicalRDD leaf caps every downstream plan
    * at O(1) depth.
    *
    * Unlike `localCheckpoint` this does NOT truncate the RDD lineage or
    * copy storage: the leaf's RDD still reads through the SQL cache and
    * can recompute any lost block from its parents (cluster-safe), and
    * `LogicalRDD.fromDataset` carries the origin's statistics,
    * constraints, partitioning and ordering, so join planning is
    * unchanged. Call AFTER persist()+count() so the cache is built via
    * the AQE path and the RDD here is a plain cache scan. */
  def flatten(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val leaf = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false)
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, leaf)
  }

  /** A [[org.apache.spark.sql.execution.LogicalRDD]] leaf over `rows`,
    * a one-partition RDD of `rowCount` rows of `schema`. The leaf
    * declares its one partition (what `coalesce(1)` would say), so
    * consumers group and aggregate it with no exchange, and it carries
    * a size estimate of `rowCount` rows (Catalyst's per-row size), so
    * joins still broadcast it the way they broadcast a cached leaf.
    * Unlike a local relation, the rows never enter the plan: every
    * consumer plan holds one scan node, whatever the row count. */
  def singlePartitionLeaf(spark: org.apache.spark.sql.SparkSession,
                          schema: org.apache.spark.sql.types.StructType,
                          rowCount: Long,
                          rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame = {
    require(rows.getNumPartitions == 1, "one partition only")
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val output = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val size = org.apache.spark.sql.catalyst.plans.logical.statsEstimation
      .EstimationUtils.getSizePerRow(output) * rowCount
    val leaf = org.apache.spark.sql.execution.LogicalRDD(output, rows,
      org.apache.spark.sql.catalyst.plans.physical.SinglePartition)(session,
      Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
        sizeInBytes = size, rowCount = Some(BigInt(rowCount)))))
    org.apache.spark.sql.classic.Dataset.ofRows(session, leaf)
  }

  /** `df`'s rows as Catalyst's internal rows, with no conversion to
    * external `Row`s: array columns stay `ArrayData`, so a kernel can
    * read them with the same accessors a native expression uses. */
  def internalRows(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.toRdd
}
