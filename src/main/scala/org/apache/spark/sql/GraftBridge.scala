package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column ⇄ Expression converters — the
  * supported way for an extension library to wrap a custom Catalyst
  * expression as a user-facing Column (Spark 4's classic API keeps these
  * package-private behind the Spark Connect split). */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every listener event posted so far has been delivered. */
  def waitUntilEmpty(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Drop the materialized blocks behind a `localCheckpoint()`ed Dataset.
    *
    * `Dataset.unpersist` only touches the SQL cache and
    * `SparkContext.getPersistentRDDs` sweeps are a harness-level remedy —
    * neither lets an ITERATIVE OPERATOR free a checkpoint the moment a
    * newer eagerly-materialized checkpoint supersedes it. This walks the
    * analyzed plan to the `LogicalRDD` leaf a checkpoint compiles to and
    * unpersists its backing `RDD[InternalRow]`, which is where
    * `RDD.localCheckpoint` parked the rows (it registers them through the
    * ordinary persist path, storage level MEMORY_AND_DISK).
    *
    * Caller contract: only call once nothing will read `ds` again — a
    * local checkpoint's lineage is truncated, so a freed one cannot be
    * recomputed (the same non-fault-tolerance `localCheckpoint` already
    * has on executor loss). Safety: frees ONLY when the plan has exactly
    * one `LogicalRDD` leaf — i.e. `ds` IS the checkpoint, nothing else.
    * A plan embedding additional RDD-backed leaves (a `createDataFrame
    * (rdd)` input, a shared checkpointed frame joined in) is left
    * untouched, because freeing a still-live unrelated leaf would be
    * unrecoverable; callers wanting that must free each checkpoint frame
    * individually before composing. No-op on non-checkpoint plans and
    * non-classic Datasets. */
  def freeLocalCheckpoint(ds: Dataset[_]): Unit = ds match {
    case c: classic.Dataset[_] =>
      c.queryExecution.analyzed.collectLeaves().collect {
        case lr: execution.LogicalRDD => lr
      } match {
        case Seq(only) => only.rdd.unpersist(blocking = false)
        case _ => () // zero or several RDD leaves: ambiguous, touch nothing
      }
    case _ => ()
  }
}
