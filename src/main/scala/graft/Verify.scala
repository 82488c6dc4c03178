package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Dump-layer timestamp convention: the driver compares the Spark parquet
    * (read via pyarrow/pandas) against DuckDB oracle output, whose
    * timestamps are tz-NAIVE wall clock. TIMESTAMP_MICROS parquet carries
    * isAdjustedToUTC=true, which pyarrow surfaces as tz-AWARE — hashing
    * `2000-01-01 00:00:00+00:00` against `2000-01-01 00:00:00` fails every
    * timestamp-emitting query. Casting top-level TIMESTAMP columns to
    * TIMESTAMP_NTZ (session tz is UTC, so this is the UTC wall clock — the
    * exact values the oracle renders) keeps the compare convention while
    * the engine itself now stores MICROS, not INT96 (whose forced
    * nanosecond read wrapped the 9999-12-31 SCD2 sentinel to 1816 — r9
    * q301 post-mortem). */
  private def naiveTimestamps(df: DataFrame): DataFrame = {
    if (!df.schema.fields.exists(_.dataType == TimestampType)) df
    else df.select(df.schema.fields.map { f =>
      if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
  }
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: restrict to these query names (local iteration)
    val only = args.drop(2).toSet
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try naiveTimestamps(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
