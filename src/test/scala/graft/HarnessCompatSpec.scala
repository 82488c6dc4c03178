package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Driver-harness compatibility guard.
  *
  * The driver's correctness gate loads each query's parquet output into
  * pandas and lexsorts over ALL columns before hashing. pandas cannot
  * order array/map/struct cells (`TypeError: unhashable type:
  * 'numpy.ndarray'`), so ANY query emitting a nested-typed column is
  * recorded as `err` — a hard FAIL regardless of whether the values are
  * right (round-8 q174 post-mortem). This spec builds every
  * [[SparkEntry.queries]] plan at sf0.001 and asserts the output schema
  * is flat: top-level columns only, no ArrayType/MapType/StructType.
  * Flatten with posexplode / inline / per-field projection instead.
  */
class HarnessCompatSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("no query output column is array/map/struct-typed (driver pandas sort)") {
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val schema = fn(spark, dir).schema
        val nested = schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
        // pandas mangles duplicate column labels (a.1) and the DuckDB
        // oracle can't produce the mangled name — fail here instead
        val dups = schema.fieldNames.groupBy(_.toLowerCase).collect {
          case (n, fs) if fs.length > 1 => s"$name: duplicate column '$n'"
        }
        nested ++ dups
    }
    assert(offenders.isEmpty,
      s"output schemas the driver compare cannot hash:\n  " +
        offenders.mkString("\n  "))
  }

  test("Bench.priorMedians parses its own BENCH_FULL line format exactly") {
    val line = """{"metric":"total","value":12.3,"unit":"sec",""" +
      """"queries":{"q01_a":0.1234,"q283_bootstrap_ci":6.0021,"q99":1.5E-1},""" +
      """"errors":{},"flaky":{"q07":"1/3 reps failed: X"},"sf":"/x"}"""
    val m = Bench.priorMedians(line)
    assert(m === Map("q01_a" -> 0.1234, "q283_bootstrap_ci" -> 6.0021,
      "q99" -> 0.15))
    // the run fields (cpus, reps, git_sha) ahead of the map do not leak in
    assert(Bench.priorMedians("""{"metric":"total","value":1.0,"unit":"sec",""" +
      """"cpus":4,"reps":3,"git_sha":"581912d","queries":{"q05":0.89},""" +
      """"errors":{},"flaky":{},"sf":"/x"}""") === Map("q05" -> 0.89))
    // degraded inputs -> empty map, never a throw (triage is best-effort)
    assert(Bench.priorMedians("") === Map.empty)
    assert(Bench.priorMedians("""{"metric":"total"}""") === Map.empty)
  }
}
