package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a session: every main and the test suites get
  * theirs here, so a setting lives in exactly one place.
  *
  *  - UTC session timezone (the oracles' wall clock);
  *  - `nanosAsLong`: events.parquet may carry int64-nanos timestamps;
  *  - TIMESTAMP_MICROS output, never INT96 (pyarrow wraps INT96 past
  *    2262 — the 9999-12-31 SCD2 sentinel);
  *  - UI off, WARN logging;
  *  - [[graft.plans.GraftSparkExtensions]] installed at build time through
  *    `spark.sql.extensions`, so the `graft_*` SQL functions and the
  *    length-prune optimizer rules are active for every query of the
  *    session, whatever ran before it.
  *
  * Cores: `SPARK_GRAFT_CPUS` if set, else the JVM's available processors,
  * with one shuffle partition per core.
  */
object GraftSession {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = { val n = cpus; apply(n, n) }

  /** Fixed parallelism, for the test session. */
  private[graft] def apply(cores: Int, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[graft.plans.GraftSparkExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
