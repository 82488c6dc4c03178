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

  // ---- DuckDB fragments shared by the oracles ----

  /** The fixed-point money recipe (Features.cents mirror). */
  protected final def centsSql(c: String): String =
    s"CAST(floor($c * 100 + 0.5) AS BIGINT)"
  /** Quantized-int embedding vector: round-half-up to 1e-3, the
    * QuantizeDoubles recipe (the labelCentroids quantScale).
    */
  protected final val qvecSql =
    "list_transform(CAST(embedding AS DOUBLE[]), e -> CAST(floor(e * 1000 + 0.5) AS BIGINT))"
  protected final def dotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a,$b), p -> p[1]*p[2])) AS DOUBLE)"
  protected final def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
  /** Space tokens of `text`, and its distinct word 3-shingles. */
  protected final val toksSql = "string_split(text, ' ')"
  protected final val shinglesSql =
    s"""CASE WHEN len($toksSql) >= 3
       |     THEN list_distinct(list_transform(generate_series(1, len($toksSql)-2),
       |            i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2]))
       |     ELSE [text] END""".stripMargin
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
