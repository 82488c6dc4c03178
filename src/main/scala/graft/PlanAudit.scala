package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Standing plan-audit gate (VERDICT r11 #6: the manual Explain
  * scan-count sweep caught 12 unpinned shared rollups — run it every
  * round, mechanically): execute every registered query and count how
  * many times each BASE RELATION (parquet file name) is PHYSICALLY
  * scanned in the final adaptive plan. The walk skips
  * ReusedExchangeExec subtrees (a reused exchange replays nothing below
  * it — the lazy-loop discipline of pageRank/triangles shows its
  * logical repetition but executes one scan per reuse group), so the
  * count is true rescan work, not logical-plan shape. A pinned shared
  * subtree ([[graft.engine.Pin]]) surfaces as an RDD scan and never counts
  * against its source.
  *
  * Self-joins and two-frame pair builds legitimately read a source
  * twice (mannKendall's a/b, interval overlap), so the flag threshold
  * defaults to >= 4; every per-query max is recorded either way so
  * round-over-round diffs catch creep. Usage:
  * `runMain graft.PlanAudit [sfDir] [outJson] [threshold]` with env
  * `SPARK_GRAFT_AUDIT_ONLY` as a name-regex filter. Always exits 0:
  * the artifact is triage evidence, not a hard gate — some counts are
  * by-design (documented per round in BASELINE.md).
  */
object PlanAudit {
  /** Adjudicated-by-design scan counts (VERDICT r12 #4: the triage lived
    * in BASELINE.md prose and re-flagged verbatim every round): query ->
    * (max allowed physical scans of one relation, one-line reason). The
    * gate reports only NEW flags — a query over threshold AND over its
    * allowance (or absent here) — so an unpinned-rollup regression
    * surfaces as a diff, not a re-triage. A query whose count DROPS below
    * the threshold is reported stale so the list shrinks with the code.
    */
  private[graft] val allow: Map[String, (Int, String)] = {
    val lifecycle = "incremental lifecycle: each registry RUN reads source" +
      " + stored target by the materialization contract; the audit sums" +
      " across the runs the query deliberately performs"
    val annEval = "ANN-eval harness: each index CONFIGURATION under" +
      " comparison reads the corpus once (the thing being measured);" +
      " probe-side rescans are ~50-row pushed filters"
    Map(
      "q13_incremental_merge" -> (6, lifecycle),
      "q14_incremental_delete_insert" -> (4, lifecycle),
      "q82_delete_insert_scoped" -> (4, lifecycle),
      "q83_merge_update_columns" -> (6, lifecycle),
      "q173_ann_recall" -> (4, annEval),
      "q201_matryoshka_recall" -> (4, annEval),
      "q237_rrf_fusion" -> (4, annEval),
      "q278_ndcg" -> (4, annEval),
      "q340_dim_ablation" -> (6, annEval),
      "q364_rbo" -> (4, annEval),
      "q369_map_mrr" -> (5, annEval),
      "q403_nprobe_sweep" -> (7, annEval),
      "q111_profile" -> (4, "measured choice: per-column narrow scans beat" +
        " the single-pass Expand form 7x (Profile.scala scaladoc)"),
      "q127_retrieval_pipeline" -> (4, "the nothing-materializes" +
        " lazy-composition demo: each stage re-derives by design"))
  }

  private def scanCounts(plan: SparkPlan,
      acc: scala.collection.mutable.Map[String, Int],
      seen: java.util.Set[SparkPlan]): Unit = plan match {
    case _: ReusedExchangeExec => () // replays nothing below it
    case a: AdaptiveSparkPlanExec => scanCounts(a.executedPlan, acc, seen)
    // final AQE plans wrap children in QueryStageExec (children = Nil);
    // a REUSED stage is the same instance appearing twice — identity
    // dedup counts its scan once, matching what actually executed
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      if (seen.add(q)) scanCounts(q.plan, acc, seen)
    case s: FileSourceScanExec =>
      val id = s.relation.location.rootPaths.headOption
        .map(_.getName).getOrElse("?")
      acc(id) = acc.getOrElse(id, 0) + 1
    case other =>
      other.children.foreach(scanCounts(_, acc, seen))
      // scalar/IN subqueries carry their own plans
      other.subqueries.foreach(scanCounts(_, acc, seen))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outJson = if (args.length > 1) args(1) else "PLANAUDIT.json"
    val threshold = if (args.length > 2) args(2).toInt else 4
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("SPARK_GRAFT_AUDIT_ONLY").map(_.r)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.findFirstIn(n).isDefined) }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => " "; case c => c.toString
      } + "\""
    val rows = queries.map { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // drive THIS QueryExecution to completion so AQE finalizes and
        // the executed plan reflects real reuse, then walk it
        df.queryExecution.toRdd.foreachPartition(_ => ())
        val counts = scala.collection.mutable.Map.empty[String, Int]
        val seen = java.util.Collections.newSetFromMap(
          new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
        scanCounts(df.queryExecution.executedPlan, counts, seen)
        val worst = counts.maxByOption(_._2)
        (name, worst.map(_._2).getOrElse(0), worst.map(_._1).getOrElse(""),
          None: Option[String])
      } catch { case e: Throwable =>
        (name, -1, "", Some(e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(160)))
      }
    }
    val flagged = rows.filter(r => r._2 >= threshold)
    val errs = rows.filter(_._4.isDefined)
    // the actionable diff: over threshold AND over (or absent from) the
    // committed allowance — what a human must triage this round
    val newFlags = flagged.filterNot { case (n, c, _, _) =>
      allow.get(n).exists(_._1 >= c) }
    // allowlist hygiene both ways: a count that dropped below the
    // threshold (entry removable) or sits below its own allowance
    // (allowance tightenable to the observed count)
    val byName = rows.map(r => r._1 -> r._2).toMap
    val staleAllow = allow.keys.toSeq.sorted.filter(n =>
      byName.get(n).exists(_ < threshold))
    newFlags.foreach { case (n, c, p, _) =>
      println(s"[plan-audit] NEW FLAG $n: $p physically scanned $c times") }
    flagged.foreach { case (n, c, p, _) =>
      println(s"[plan-audit] flag $n: $p scanned $c times" +
        allow.get(n).filter(_._1 >= c).map(a => s" (allowed <= ${a._1}: ${a._2})")
          .getOrElse("")) }
    errs.foreach { case (n, _, _, e) =>
      println(s"[plan-audit] ERROR $n: ${e.get}") }
    val body = rows.map { case (n, c, p, e) =>
      s"""{"query":${jstr(n)},"max_scans":$c,"path":${jstr(p)}""" +
        allow.get(n).map { case (mx, why) =>
          s""","allowed":$mx,"reason":${jstr(why)}""" }.getOrElse("") +
        e.map(x => s""","error":${jstr(x)}""").getOrElse("") + "}"
    }.mkString(",\n")
    val json =
      s"""{"sf_dir":${jstr(sfDir)},"threshold":$threshold,""" +
        s""""n_queries":${rows.size},"n_flagged":${flagged.size},""" +
        s""""flagged":[${flagged.map(f => jstr(f._1)).mkString(",")}],""" +
        s""""new_flags":[${newFlags.map(f => jstr(f._1)).mkString(",")}],""" +
        s""""stale_allow":[${staleAllow.map(jstr).mkString(",")}],""" +
        "\"rows\":[\n" + body + "\n]}\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(s"[plan-audit] ${rows.size} queries, ${flagged.size} flagged " +
      s"(threshold $threshold), ${newFlags.size} NEW, " +
      s"${staleAllow.size} stale allow entries, ${errs.size} errors -> $outJson")
    spark.stop()
  }
}
