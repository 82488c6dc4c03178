package graft.engine

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** The one way the engine asks Spark to hold a relation. A pinned Dataset
  * reads rows computed once: every scan of it sees the same inputs (the
  * temp-relation rule I8 that multi-scan merge strategies need), and plans
  * over it start at the pin instead of re-running its lineage.
  *
  * A pin is a local checkpoint. It is not registered in the session's
  * CacheManager, so no other query with an equal plan reads it (`cache()`
  * would couple queries in one shared session), and for the same reason
  * `Dataset.unpersist` frees nothing: free a pin with [[release]], or scope
  * it with [[loan]], which releases also when its body throws. An
  * unreleased pin lives until the ContextCleaner finds its RDD unreachable
  * after a JVM GC, which in an iterative or per-batch loop is unbounded
  * dead storage. Its blocks live on the executor that computed them, so
  * losing that executor fails the query instead of recomputing it.
  *
  * Lazy or eager is each call site's choice: a lazy pin is computed by the
  * first action that reads it; an eager pin runs one job now, which a
  * caller needs when the files its plan reads are about to be replaced
  * (a Warehouse swap deletes the old file index).
  */
object Pin {
  implicit class PinOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Pin computed by the first action that reads it. */
    def pinLazy(): Dataset[T] = ds.localCheckpoint(false)

    /** Pin computed now, by one job. */
    def pinEager(): Dataset[T] = ds.localCheckpoint(true)
  }

  /** Free the blocks behind a pinned Dataset now. */
  def release(pinned: Dataset[_]): Unit =
    pinned.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Run `body` on `pinned` and release the pin afterwards, also when
    * `body` throws.
    */
  def loan[T, R](pinned: Dataset[T])(body: Dataset[T] => R): R =
    try body(pinned) finally release(pinned)
}
