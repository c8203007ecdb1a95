package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column↔Expression converters (Spark 4
  * moved Column onto ColumnNode; attaching a custom Catalyst Expression to
  * a Column needs these classic-API helpers). Lives in an
  * `org.apache.spark.sql` subpackage purely for access; contains no logic. */
object SqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-export of the `private[sql]` type that `inputTypes` overrides
    * must name (custom aggregates outside org.apache.spark.sql can't
    * reference it directly). */
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  /** Rebind `df` to another session sharing the same SparkContext: the
    * identical analyzed plan, re-rooted so ACTIONS on the result read
    * `to`'s SQLConf (exchange width, adaptive execution) instead of the
    * originating session's. Cache interop is free — CacheManager lives
    * in SharedState, shared across sessions, and matches by canonicalized
    * plan, which rebinding does not change. */
  def rebind(df: org.apache.spark.sql.DataFrame,
      to: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      to.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.analyzed)

  /** `df` in one partition, the plan of `coalesce(1)`: a no-shuffle
    * `Repartition(1)`. When the analyzed root is a global `Sort`, the sort
    * moves INSIDE that partition instead (a local `Sort` over the
    * `Repartition(1)`): one sorted partition is globally sorted, so the
    * range exchange and its sampling job, which would recompute the whole
    * child, are dropped. Physically the result is a `CoalesceExec(1)`
    * reporting `SinglePartition`, which also satisfies the distribution
    * of any group-by, global aggregate or sort stacked on it, so those run
    * with no exchange either. */
  def singlePartition(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
    val one = df.queryExecution.analyzed match {
      case s: Sort if s.global =>
        s.copy(global = false, child = Repartition(1, shuffle = false, s.child))
      case p => Repartition(1, shuffle = false, p)
    }
    org.apache.spark.sql.classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], one)
  }

  /** Truncate `df`'s SQL lineage: a new frame whose logical plan is a
    * LEAF (`LogicalRDD`) over `df`'s executed RDD — the plan-surgery
    * half of `Dataset.checkpoint` (classic.Dataset.checkpoint:
    * `toRdd.map(_.copy())` + `LogicalRDD.fromDataset`) WITHOUT the RDD
    * lineage cut, so evicted blocks can still recompute through the
    * original plan. For iterative operators whose round N references
    * round N−1: without truncation every round's cached plan NESTS the
    * previous round's, and Spark's per-action plan-string rendering
    * (AQE renders each nested level twice: final + initial plan) goes
    * exponential in rounds — driver OOM on a 7-edge graph at 4 rounds,
    * independent of data size. Pin (and force) `df` BEFORE re-rooting,
    * so the wrapped RDD reads the cache instead of recomputing. */
  def reRoot(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD
        .fromDataset(rdd, ds, isStreaming = false))
  }
}
