package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Scratch

/** Scratch warehouses: removed when the JVM exits, and not growing when a
  * lifecycle query runs again in the same JVM.
  */
class ScratchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def parquetFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(parquetFiles).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0

  test("cleanup deletes every scratch root the JVM made") {
    val wh = Scratch.warehouse("scratchspec", dir, spark, Seq("t"))
    wh.writeSwap("t", spark.range(3).toDF())
    val root = Scratch.root("scratchspec", dir)
    assert(parquetFiles(root) > 0)
    val tmp = Scratch.tempDir("graft_scratchspec").toFile
    assert(tmp.isDirectory)
    Scratch.cleanup()
    assert(!root.exists())
    assert(!tmp.exists())
  }

  // a table the query writes but its drop list leaves out keeps its old
  // files and gains new ones on every call
  Seq("q85" -> "q85_upsert_partitioned", "q525" -> "q525_join_ivm",
    "q530" -> "q530_incremental_stack_capstone", "q539" -> "q539_late_arrival",
    "q543" -> "q543_dont_recompute_capstone").foreach { case (tag, name) =>
    test(s"$name: a repeat call leaves its scratch warehouse's file count unchanged") {
      def callAndCount(): Int = {
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        parquetFiles(Scratch.root(tag, dir))
      }
      val first = callAndCount()
      assert(callAndCount() === first)
    }
  }
}
