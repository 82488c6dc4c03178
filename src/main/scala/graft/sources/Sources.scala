package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated star schema (/root/repo/TESTDATA.md) and
  * CSV seeds (reference: dbt seed, dbt-adapters/.../seeds/helpers.sql:7-27 —
  * infer types once, then pin the schema).
  */
object Sources {

  /** Parquet table from a scale-factor dir. Column pruning + predicate
    * pushdown reach the scan because this stays fully declarative.
    *
    * The DataFrame (an immutable logical plan) is cached per (session, path):
    * `spark.read.parquet` builds a fresh file index per call — file listing
    * is a fixed per-query tax across a 50-query run, and on object stores at
    * corpus scale it is a real round-trip cost. Read-only inputs, so the
    * cached listing can never go stale mid-run.
    */
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Scan fan-out (optimization r15, guide §2.5 "input skew: one huge
    * unsplittable file — repartition immediately after the read"): the
    * testdata tables are ONE parquet file with ONE row group each (row
    * groups are parquet's minimum split unit), so a stage reading one —
    * and all map-side work fused into it (tokenize, n-gram explode, image
    * decode, per-row hashing) — runs as a SINGLE task no matter the core
    * count. A round-robin repartition right after the read spreads that
    * work for the price of one shuffle of the (pruned) columns.
    *
    * Apply this at OPERATOR ENTRY, immediately before provably CPU-heavy
    * per-row work — NOT blanket at the table reader: the blanket form was
    * tried first and MEASURED a net battery regression (739 -> 988 s at
    * sf0.1/32 cpus): every action of every query re-paid the shuffle
    * (q117 0.11 -> 0.82 s, q85 4.2 -> 8.9 s, q129 3.3 -> 12.2 s), while
    * the wins concentrated in the dozen codec/tokenizer/hash-bound paths
    * (q135 5.8 -> 0.6 s, q139 3.4 -> 0.5 s, q217 3.4 -> 1.0 s). Injected
    * where those wins were measured, the tax lands exactly once, on a
    * pass that is about to burn CPU per row.
    *
    * Scale-adaptive by construction: a production-size input splits into
    * >= parallelism scan partitions and the guard never fires, so no
    * shuffle is ever added at 100 TB; after any exchange the partition
    * count already matches the session parallelism and the guard is a
    * no-op. Predicate pushdown / column pruning are unaffected — Catalyst
    * pushes filters and projections through Repartition, so PushedFilters
    * / ReadSchema at the scan stay as before (plans/r15 captures).
    */
  def fanOut[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
    val p = ds.sparkSession.sparkContext.defaultParallelism
    // physical partition count: cheap to compute for a bare scan (no job
    // runs); for the lazy plans reaching this helper it only walks the
    // plan, it never executes it
    if (ds.rdd.getNumPartitions < p) ds.repartition(p) else ds
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // evict entries whose session is stopped (test suites / repeated probe
    // runs create many short-lived sessions in one JVM — strong refs to dead
    // SparkSessions would otherwise accumulate for the process lifetime)
    if (tableCache.size > 64) {
      val it = tableCache.keySet.iterator()
      while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    }
    tableCache.computeIfAbsent((spark, s"$sfDir/$name.parquet"),
      k => k._1.read.parquet(k._2))
  }

  /** Epoch-nanos long -> TimestampType at microsecond precision.
    * INTEGRAL division only: `col / lit(1000L)` is double division in Spark,
    * and epoch-nanos (~9.5e17) exceed 2^53 — the long->double round makes
    * ~1.6% of values land 1 microsecond off vs an engine that divides
    * integrally (oracle mismatch on exact window/gap boundaries).
    */
  def nsToTimestamp(ns: Column): Column =
    timestamp_micros(ns.cast("decimal(20,0)").divide(lit(1000L)).cast("long"))

  /** The events table ships with nanosecond parquet timestamps, which Spark
    * surfaces as LongType under `spark.sql.legacy.parquet.nanosAsLong=true`
    * (set in our session builders). Normalize to a proper TimestampType column
    * `ts` at microsecond precision so downstream windowing/oracles agree with
    * engines that read nanos natively.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType.typeName match {
      case "long" => raw.withColumn("ts", nsToTimestamp(col("ts")))
      // tz-naive parquet timestamps (timestamp[us] written without a zone)
      // surface as TIMESTAMP_NTZ; normalize to TimestampType so event-time
      // streaming (watermarks reject NTZ) and every downstream query see
      // the SAME type the ns-long generations produced via timestamp_micros.
      // The cast is a pure reinterpretation ONLY under a UTC session zone —
      // any other zone would silently shift every event timestamp, so
      // enforce the assumption instead of documenting it.
      case "timestamp_ntz" =>
        val tz = spark.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events NTZ->timestamp reinterpretation requires a UTC session " +
            s"(spark.sql.session.timeZone is '$tz'); set it to UTC or the " +
            "cast will shift every event time")
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _               => raw
    }
  }

  /** CSV seed loader (S1/S2): header CSV -> typed table. Types are inferred on
    * first read (agate-style), then the schema is pinned by the caller for
    * reproducible reloads. Seed full-refresh == overwrite of the target dir.
    */
  def seed(spark: SparkSession, path: String, pinned: Option[StructType] = None,
      columnTypes: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.option("header", "true")
    val df = pinned match {
      case Some(st) => r.schema(st).csv(path)
      case None     => r.option("inferSchema", "true").csv(path)
    }
    // dbt seed `column_types` config (seeds/helpers.sql:7-27 merges declared
    // types over the agate inference): the listed columns take the DECLARED
    // type, everything else keeps its inferred one. Casts are strict-cast
    // (not try_cast): a seed value that cannot carry the declared type is
    // an authoring error that must fail the load, as the reference's typed
    // CREATE TABLE would.
    val unknown = columnTypes.keys.filterNot(df.columns.contains)
    require(unknown.isEmpty,
      s"column_types names absent seed columns: ${unknown.mkString(", ")}")
    columnTypes.foldLeft(df) { case (acc, (c, t)) =>
      acc.withColumn(c, org.apache.spark.sql.functions.col(c).cast(t))
    }
  }

  /** JSONL (newline-delimited JSON) source — the arrival format of most raw
    * training corpora. An EXPLICIT schema is required: schema inference
    * would scan the full 100 TB input once just to type it, and a drifting
    * field would silently retype the table between runs. Unknown fields are
    * dropped by the schema projection; `mode=FAILFAST` surfaces corrupt
    * lines instead of nulling them into the corpus.
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  /** ORC interchange (read side). ORC is the other columnar format a data
    * platform must speak (Hive/Trino-era warehouses hand corpora over as
    * ORC); Spark's native vectorized ORC reader keeps predicate pushdown
    * and column pruning exactly like the parquet path, so downstream plans
    * are format-agnostic. Schema comes from the ORC footer — no inference
    * scan.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC interchange (write side): zstd-compressed, the modern default.
    * Timestamps/decimals/arrays round-trip losslessly through ORC's typed
    * columns (q192 pins this with a byte-exact oracle over the source
    * parquet).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "zstd").orc(path)
}
