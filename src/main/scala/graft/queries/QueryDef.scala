package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable engine capability: a Spark implementation + (when
  * SQL-expressible) a DuckDB oracle over the same parquet tables. The driver
  * sorts columns by name before hashing, but NAMES and value types must match
  * exactly (BASELINE.md t2 gate).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QuerySet {
  def all: Seq[QueryDef]
  final def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap
  final def oracles: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}

/** One-pass invariant checks for the lifecycle/IVM queries. */
object Checks {
  /** Multiset equality in ONE aggregation (optimization r15, guide §1.2
    * "don't compute things twice"): the IVM family's `matched` pins were
    * written as `a.exceptAll(b).count() + b.exceptAll(a).count() == 0` —
    * four shuffle-heavy jobs that evaluate EACH side's full lineage TWICE
    * (exceptAll is not symmetric, so both directions are needed). Only
    * the zero-test is ever consumed, and multiset equality has a one-pass
    * form: tag rows +1/-1 by side, roll up by every column, and the
    * multisets are equal iff no group's signed count is nonzero. One
    * shuffle, each side evaluated once. NULL grouping matches exceptAll's
    * null-safe row equality (groupBy buckets NULLs together), so the
    * boolean is identical for every input pair.
    */
  def multisetEqual(a: DataFrame, b: DataFrame): Boolean = {
    import org.apache.spark.sql.functions._
    val cols = a.columns.toSeq
    a.withColumn("__sgn", lit(1L))
      .unionByName(b.withColumn("__sgn", lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("__sgn")).as("__d"))
      .filter(col("__d") =!= 0L)
      .isEmpty
  }

  /** Both exceptAll direction counts in ONE pass (same signed rollup as
    * [[multisetEqual]]): `a.exceptAll(b).count()` is the multiset
    * difference Σ max(cnt_a − cnt_b, 0) per distinct row, so one rollup
    * yields both directions — each side evaluated once instead of twice.
    * Used where a query EXPOSES a difference count (not just the
    * zero-test), e.g. q539's n_missing columns.
    */
  def exceptAllCounts(a: DataFrame, b: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val cols = a.columns.toSeq
    val r = a.withColumn("__sgn", lit(1L))
      .unionByName(b.withColumn("__sgn", lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("__sgn")).as("__d"))
      .agg(
        coalesce(sum(when(col("__d") > 0L, col("__d")).otherwise(0L)),
          lit(0L)).as("__ab"),
        coalesce(sum(when(col("__d") < 0L, -col("__d")).otherwise(0L)),
          lit(0L)).as("__ba"))
      .head()
    (r.getLong(0), r.getLong(1))
  }
}

/** Stable scratch warehouse roots for lifecycle queries, keyed on
  * (tag, input dir): bench reps and verify passes invoke each query many
  * times, and a fresh `createTempDirectory` per invocation would leak a
  * full warehouse copy of the query's tables every rep (ADVICE r6). One
  * reused root per (tag, sfDir); each invocation drops its tables first —
  * which the multi-run lifecycle queries REQUIRE anyway (run 1 must CTAS
  * from clean state, not merge into a previous invocation's leftovers).
  */
object Scratch {
  /** Every scratch root this JVM has made, deleted by [[cleanup]] when the
    * JVM exits.
    */
  private val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  // one shutdown hook per JVM, registered with the first root
  private lazy val hook: Unit = { sys.addShutdownHook(cleanup()); () }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  /** Delete every recorded scratch root (the shutdown hook's body). */
  private[graft] def cleanup(): Unit = roots.forEach(r => deleteTree(r))

  /** A fresh directory under java.io.tmpdir, deleted with the scratch
    * warehouses when the JVM exits.
    */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    if (roots.add(dir.toFile)) hook
    dir
  }

  /** The scratch root of `tag` over `sfDir` in this JVM. */
  private[graft] def root(tag: String, sfDir: String): java.io.File =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_scratch_${tag}_${java.lang.Integer.toHexString(sfDir.hashCode)}" +
        s"_p${ProcessHandle.current().pid()}").toFile

  /** Delete a streaming checkpoint under the scratch warehouse so a
    * repeat invocation (bench warmup/reps share the per-JVM scratch dir)
    * re-ingests from offset zero instead of silently no-op'ing against
    * committed offsets — the streaming twin of the table drops in
    * [[warehouse]].
    */
  def resetCheckpoint(wh: graft.engine.Warehouse, name: String): Unit =
    deleteTree(new java.io.File(s"${wh.root}/_checkpoints/$name"))

  /** One scratch warehouse per (tag, sfDir) PER JVM: reuse across bench
    * reps/warmups inside a run (the ADVICE r6 temp-dir leak), but never
    * shared between concurrently running JVMs — a test pass and a bench
    * resolving to the same path would drop each other's live lifecycle
    * tables mid-read. The root is deleted when the JVM exits.
    */
  def warehouse(tag: String, sfDir: String, s: SparkSession,
      tables: Seq[String]): graft.engine.Warehouse = {
    val dir = root(tag, sfDir)
    if (roots.add(dir)) hook
    val wh = new graft.engine.Warehouse(dir.toString, s)
    tables.foreach(wh.drop)
    wh
  }
}
