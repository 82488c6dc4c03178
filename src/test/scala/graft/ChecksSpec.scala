package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import graft.engine.Checks

/** Optimization r15: the one-pass signed-rollup forms in
  * [[graft.engine.Checks]] must agree with Spark's own exceptAll on every
  * edge the IVM queries' invariant pins can hit — duplicates (multiset
  * counts, not sets), NULL cells (exceptAll's null-safe row equality), and
  * the empty-frame degenerate cases.
  */
class ChecksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def groundTruth(a: DataFrame, b: DataFrame): (Long, Long) =
    (a.exceptAll(b).count(), b.exceptAll(a).count())

  private def assertAgrees(a: DataFrame, b: DataFrame): Unit = {
    val (ab, ba) = groundTruth(a, b)
    assert(Checks.exceptAllCounts(a, b) === ((ab, ba)))
    assert(Checks.multisetEqual(a, b) === (ab == 0L && ba == 0L))
    val tagged = a.exceptAll(b).withColumn("side", lit("actual"))
      .unionByName(b.exceptAll(a).withColumn("side", lit("expected")))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(Checks.sideDiff(a, b)) === rows(tagged))
  }

  test("equal multisets with duplicates: equal, zero counts") {
    val a = Seq((1L, "x"), (1L, "x"), (2L, "y")).toDF("k", "v")
    val b = Seq((2L, "y"), (1L, "x"), (1L, "x")).toDF("k", "v")
    assertAgrees(a, b)
    assert(Checks.multisetEqual(a, b))
  }

  test("same set, different multiplicities: NOT equal, counts match exceptAll") {
    val a = Seq((1L, "x"), (1L, "x"), (2L, "y")).toDF("k", "v")
    val b = Seq((1L, "x"), (2L, "y"), (2L, "y"), (2L, "y")).toDF("k", "v")
    assertAgrees(a, b)
    assert(!Checks.multisetEqual(a, b))
    assert(Checks.exceptAllCounts(a, b) === ((1L, 2L)))
  }

  test("NULL cells group like exceptAll's null-safe equality") {
    val a = Seq((Some(1L), "x"), (None: Option[Long], "x"),
      (None: Option[Long], "x")).toDF("k", "v")
    val b = Seq((None: Option[Long], "x"), (None: Option[Long], "x"),
      (Some(1L), "x")).toDF("k", "v")
    assertAgrees(a, b)
    assert(Checks.multisetEqual(a, b))
    val c = Seq((None: Option[Long], "x")).toDF("k", "v")
    assertAgrees(a, c)
    assert(Checks.exceptAllCounts(a, c) === ((2L, 0L)))
  }

  test("column order differences are aligned by name") {
    val a = Seq((1L, "x")).toDF("k", "v")
    val b = Seq(("x", 1L)).toDF("v", "k")
    assert(Checks.multisetEqual(a, b))
    assert(Checks.exceptAllCounts(a, b) === ((0L, 0L)))
  }

  test("empty frames: both empty equal; one-sided difference counted") {
    val a = Seq((1L, "x")).toDF("k", "v")
    val e = a.limit(0)
    assertAgrees(e, e)
    assert(Checks.multisetEqual(e, e))
    assertAgrees(a, e)
    assert(Checks.exceptAllCounts(a, e) === ((1L, 0L)))
    assert(Checks.exceptAllCounts(e, a) === ((0L, 1L)))
  }
}
