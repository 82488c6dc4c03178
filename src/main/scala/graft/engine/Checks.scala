package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relation diffs in ONE aggregation, for invariant checks and unit-test
  * diffs. `a.exceptAll(b)` is not symmetric, so a two-sided diff written
  * with it evaluates each side's full lineage twice in four shuffle-heavy
  * jobs. The one-pass form tags rows +1/-1 by side and rolls up by every
  * column: per distinct row, the signed count is cnt_a − cnt_b. One
  * shuffle, each side evaluated once. NULL grouping matches exceptAll's
  * null-safe row equality (groupBy buckets NULLs together) — Spark itself
  * rewrites EXCEPT ALL into this rollup — so every result below equals
  * its exceptAll form for every input pair.
  */
object Checks {
  /** One row per distinct row of `a` ∪ `b` with its signed count `__d`. */
  private def signedCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.withColumn("__sgn", lit(1L))
      .unionByName(b.withColumn("__sgn", lit(-1L)))
      .groupBy(a.columns.toSeq.map(col): _*)
      .agg(sum(col("__sgn")).as("__d"))

  /** `a` and `b` hold the same rows with the same multiplicities. */
  def multisetEqual(a: DataFrame, b: DataFrame): Boolean =
    signedCounts(a, b).filter(col("__d") =!= 0L).isEmpty

  /** Both exceptAll direction counts: `a.exceptAll(b).count()` is
    * Σ max(cnt_a − cnt_b, 0) per distinct row. Used where a query EXPOSES
    * a difference count (not just the zero-test), e.g. q539's n_missing
    * columns.
    */
  def exceptAllCounts(a: DataFrame, b: DataFrame): (Long, Long) = {
    val r = signedCounts(a, b)
      .agg(
        coalesce(sum(when(col("__d") > 0L, col("__d")).otherwise(0L)),
          lit(0L)).as("__ab"),
        coalesce(sum(when(col("__d") < 0L, -col("__d")).otherwise(0L)),
          lit(0L)).as("__ba"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** The side-tagged symmetric difference (dbt's unit-test diff): the
    * rows of `a.exceptAll(b)` tagged `side = "actual"` and those of
    * `b.exceptAll(a)` tagged `"expected"`, each differing row repeated
    * |cnt_a − cnt_b| times so EXCEPT ALL multiplicity is kept.
    */
  def sideDiff(actual: DataFrame, expected: DataFrame): DataFrame = {
    val d = col("__d")
    signedCounts(actual, expected)
      .filter(d =!= 0L)
      .withColumn("__rep", explode(sequence(lit(1L), abs(d))))
      .withColumn("side", when(d > 0L, lit("actual")).otherwise(lit("expected")))
      .drop("__d", "__rep")
  }
}
