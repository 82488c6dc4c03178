package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Developer tool over [[SparkEntry.queries]], one session per run:
  *
  *  - `plan [--out <dir> <suffix>] <query>... | ALL` prints each query's
  *    formatted plan, or writes it to `<dir>/<query>_<suffix>.txt`; a
  *    query that fails to plan is reported and skipped;
  *  - `time <query> [reps]` runs the query's FULL function (lifecycle work
  *    included) to a noop sink once to warm up, then `reps` (default 3)
  *    timed times.
  *
  * Input: SPARK_GRAFT_SF_DIR (default sf0.1, the bench scale, so AQE and
  * broadcast thresholds see bench-sized inputs). Cores: [[GraftSession]].
  */
object Dev {
  private val usage =
    "usage: graft.Dev plan [--out <dir> <suffix>] <query>... | ALL\n" +
      "       graft.Dev time <query> [reps]"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def names(qs: List[String]): Seq[String] =
      if (qs == List("ALL")) SparkEntry.queries.keys.toSeq.sorted else qs
    args.toList match {
      case "plan" :: "--out" :: dir :: suffix :: qs if qs.nonEmpty =>
        Files.createDirectories(Paths.get(dir))
        plan(sfDir, names(qs), (name, txt) =>
          Files.writeString(Paths.get(dir, s"${name}_$suffix.txt"), txt))
      case "plan" :: qs if qs.nonEmpty && qs.head != "--out" =>
        plan(sfDir, names(qs), (_, txt) => println(txt))
      case "time" :: name :: rest if rest.size <= 1 =>
        time(sfDir, name, rest.headOption.map(_.toInt).getOrElse(3))
      case _ =>
        System.err.println(usage)
        sys.exit(2)
    }
  }

  private def plan(sfDir: String, names: Seq[String],
      emit: (String, String) => Unit): Unit = {
    val spark = GraftSession()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        emit(name, df.queryExecution.explainString(FormattedMode))
        System.err.println(s"[dev] planned $name")
      } catch { case e: Throwable =>
        System.err.println(s"[dev] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  private def time(sfDir: String, name: String, reps: Int): Unit = {
    val spark = GraftSession()
    val fn = SparkEntry.queries(name)
    def run(): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    run()
    (1 to reps).foreach(i => println(f"[dev] $name rep $i: ${run()}%.2f s"))
    spark.stop()
  }
}
