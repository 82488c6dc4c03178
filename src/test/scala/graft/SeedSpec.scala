package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.sources.Sources
import graft.engine.Warehouse
import graft.operators.GenericTests
import graft.queries.Scratch

/** S1/S2 CSV seed loading (infer-then-pin) and the store-failures sink. */
class SeedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("seed CSV: inferred then pinned schema round-trips (S1)") {
    val dir = Scratch.tempDir("graft_seed")
    val csv = dir.resolve("claim_lines_demo.csv")
    Files.writeString(csv,
      "claim_id,member_id,service_date,proc_code\n" +
      "1001,1,2025-07-01,82274\n1002,2,2025-02-10,12345\n")
    val inferred = Sources.seed(spark, csv.toString)
    assert(inferred.schema("claim_id").dataType === IntegerType)
    // pin to the FIXTURES.md types (long ids, date, string code kept leading-zero-safe)
    val pinned = StructType(Seq(
      StructField("claim_id", LongType), StructField("member_id", LongType),
      StructField("service_date", DateType), StructField("proc_code", StringType)))
    val typed = Sources.seed(spark, csv.toString, Some(pinned))
    assert(typed.schema === pinned)
    val r = typed.orderBy("claim_id").collect()(0)
    assert(r.getLong(0) === 1001L && r.getDate(2).toString === "2025-07-01"
      && r.getString(3) === "82274")
  }

  test("jsonl source: pinned schema projects known fields, FAILFAST rejects corrupt lines") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val good = Scratch.tempDir("graft_jsonl").resolve("docs.jsonl")
    Files.writeString(good,
      """{"doc_id": 1, "text": "a b", "unknown_field": true}
        |{"doc_id": 2, "text": "c"}
        |""".stripMargin)
    val out = Sources.jsonl(spark, good.toString, schema)
    assert(out.schema === schema) // unknown fields dropped by the projection
    assert(out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(1L -> "a b", 2L -> "c"))
    // corrupt line -> loud failure, never a silent null row in the corpus
    val bad = good.getParent.resolve("bad.jsonl")
    Files.writeString(bad, "{\"doc_id\": 1, \"text\": \"ok\"}\nnot json at all\n")
    assertThrows[org.apache.spark.SparkException](
      Sources.jsonl(spark, bad.toString, schema).collect())
  }

  test("store_failures persists tagged failing rows across runs") {
    val wh = new Warehouse(Scratch.tempDir("graft_dq").toString, spark)
    val failing = Seq((7L, 2L)).toDF("unique_field", "n_records")
    GenericTests.storeFailures(wh, "orders_custkey_unique", failing,
      Timestamp.valueOf("2025-01-01 00:00:00"))
    GenericTests.storeFailures(wh, "orders_custkey_unique", failing,
      Timestamp.valueOf("2025-01-02 00:00:00"))
    val stored = wh.read("dq_failures_orders_custkey_unique")
    assert(stored.count() === 2)
    assert(stored.columns.toSet ===
      Set("unique_field", "n_records", "dq_test_name", "dq_run_ts"))
  }
}
