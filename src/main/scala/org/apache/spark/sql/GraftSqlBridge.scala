package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the classic Column <-> catalyst Expression converters, which are
  * `private[sql]` in Spark 4 (the Connect-era Column wraps a ColumnNode, not
  * an Expression). Standard extension-library technique: this object lives in
  * the spark.sql package purely to re-export the two converters for
  * graft.plans custom expressions.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Free the storage behind a localCheckpoint'd Dataset NOW. `Dataset
    * .unpersist` only clears CacheManager entries (persist/cache);
    * localCheckpoint persists the underlying RDD directly, so its blocks
    * otherwise live until ContextCleaner notices the RDD is unreachable
    * after a JVM GC — unbounded dead storage in iterative algorithms and
    * long-running per-batch loops.
    */
  def freeLocalCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** The ids of the checkpoint RDDs backing `df` (for tests that need to
    * assert against sparkContext.getPersistentRDDs without racing the
    * ContextCleaner on the global count).
    */
  def localCheckpointRddIds(df: Dataset[_]): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
}
