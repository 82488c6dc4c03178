package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.TableStats
import graft.functions.QuantileSketch
import graft.queries.Scratch

/** Sketch-backed optimizer statistics (engine/TableStats): profile
  * builds, the exact-under-k NDV path, the System-R join estimate and
  * broadcast advice, the advised physical plan, and the quantile-summary
  * range-selectivity envelope.
  */
class TableStatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("columnCounts / columnRegisters: exact counts, exact NDV under k, partition invariance") {
    val df = Seq((1L, Some("a")), (2L, Some("a")), (3L, None),
      (2L, Some("b"))).toDF("id", "s")
    val counts = TableStats.columnCounts(df, Seq("id", "s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(counts === Map("id" -> ((4L, 4L)), "s" -> ((4L, 3L))))
    // k above the distinct count: the registers ARE the distinct set and
    // NDV reads exact
    val regs = TableStats.columnRegisters(df, Seq("id", "s"), 8)
    val ndv = TableStats.ndvEstimate(regs, 8).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap // (ts_col, n_regs, ndv)
    assert(ndv("id") === 3L && ndv("s") === 2L)
    // register content is partition-invariant (the KMV determinism law)
    val regsRepart =
      TableStats.columnRegisters(df.repartition(7), Seq("id", "s"), 8)
    assert(regs.collect().map(_.toString).sorted.toSeq
      === regsRepart.collect().map(_.toString).sorted.toSeq)
    // an empty table profiles as zeros, not NULLs
    val empty = TableStats.columnCounts(df.filter(lit(false)), Seq("id"))
      .collect()
    assert(empty.length === 1 && empty.head.getLong(1) === 0L
      && empty.head.getLong(2) === 0L)
  }

  test("composite specs: 'a|b' profiles the tuple — exact composite NDV, NULL-part tuples carry no key statistics") {
    // (g, h) correlated: h = g, so composite NDV == single NDV == 3,
    // where the independence product would read 9
    val df = Seq((Some(1L), Some(1L)), (Some(2L), Some(2L)),
      (Some(3L), Some(3L)), (Some(1L), Some(1L)),
      (Some(4L), None), (None, Some(4L))).toDF("g", "h")
    val counts = TableStats.columnCounts(df, Seq("g", "h", "g|h"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_notnull")))).toMap
    // 6 rows; g and h each have 5 non-null; only 4 tuples have BOTH
    assert(counts("g") === ((6L, 5L)) && counts("h") === ((6L, 5L)))
    assert(counts("g|h") === ((6L, 4L)))
    val ndv = TableStats.ndvEstimate(
      TableStats.columnRegisters(df, Seq("g", "h", "g|h"), 16), 16)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("ndv")).toMap
    assert(ndv("g") === 4L && ndv("h") === 4L)
    assert(ndv("g|h") === 3L,
      s"composite NDV must count TUPLES (got ${ndv("g|h")})")
    // readProfile round-trip via sideProfile on the composite name
    val side = TableStats.sideProfile(
      TableStats.columnCounts(df, Seq("g|h")),
      TableStats.ndvEstimate(
        TableStats.columnRegisters(df, Seq("g|h"), 16), 16),
      "g|h", "a").collect().head
    assert(side.getAs[Long]("n_a") === 4L && side.getAs[Long]("ndv_a") === 3L)
    // unknown part raises
    intercept[IllegalArgumentException] {
      TableStats.columnCounts(df, Seq("g|zz"))
    }
  }

  test("sideProfile: an all-NULL profiled column still yields one (n, ndv=0) row") {
    // NULLs build zero KMV registers, so the ndv side has no row for the
    // column — the planner must still get its profile row (ADVICE r14)
    val df = Seq((1L, Option.empty[String]), (2L, None), (3L, None))
      .toDF("id", "s")
    val counts = TableStats.columnCounts(df, Seq("id", "s"))
    val ndv = TableStats.ndvEstimate(
      TableStats.columnRegisters(df, Seq("id", "s"), 8), 8)
    val r = TableStats.sideProfile(counts, ndv, "s", "a").collect()
    assert(r.length === 1, "all-NULL column lost its profile row")
    assert(r.head.getAs[Long]("n_a") === 0L
      && r.head.getAs[Long]("ndv_a") === 0L)
    // and the populated column is unaffected
    val ok = TableStats.sideProfile(counts, ndv, "id", "b").collect().head
    assert(ok.getAs[Long]("n_b") === 3L && ok.getAs[Long]("ndv_b") === 3L)
  }

  test("adviseEquiJoin: decision matrix, estimate formula, zero-NDV guard") {
    def prof(n: Long, ndv: Long, suffix: String) =
      Seq((n, ndv)).toDF(s"n_$suffix", s"ndv_$suffix")
    def one(a: (Long, Long), b: (Long, Long), thr: Long) = {
      val r = TableStats.adviseEquiJoin(
        prof(a._1, a._2, "a"), prof(b._1, b._2, "b"), thr).collect().head
      (r.getAs[Long]("est_join_rows"), r.getAs[String]("join_plan"))
    }
    // small dim on the right -> broadcast_right; estimate is the
    // System-R containment formula n_a * n_b div max(ndv)
    assert(one((1000L, 100L), (50L, 50L), 100L) === ((500L, "broadcast_right")))
    // smaller left -> broadcast_left; ties broadcast the left too
    assert(one((50L, 50L), (1000L, 100L), 100L)._2 === "broadcast_left")
    assert(one((80L, 10L), (80L, 20L), 100L)._2 === "broadcast_left")
    // both sides above the budget -> shuffle
    assert(one((1000L, 10L), (1000L, 10L), 100L)
      === ((100000L, "shuffle")))
    // empty sides (ndv 0) never divide by zero; estimate reads 0
    assert(one((0L, 0L), (0L, 0L), 100L)._1 === 0L)
  }

  test("applyAdvice: the advised side is the broadcast side of the executed plan") {
    val left = spark.range(0, 2000)
      .select(col("id").as("k"), (col("id") * 2L).as("x"))
    val right = spark.range(0, 40)
      .select(col("id").as("k"), (col("id") + 1L).as("y"))
    val br = TableStats.applyAdvice(left, right, Seq("k"), "broadcast_right")
    assert(br.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "advised broadcast not in the plan")
    assert(br.count() === 40L)
    val bl = TableStats.applyAdvice(right, left, Seq("k"), "broadcast_left")
    assert(bl.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    assert(bl.count() === 40L)
    // "shuffle" plants no hint and stays row-identical (AQE keeps its own
    // judgement — advice only ever ADDS a broadcast, so no absence pin)
    assert(TableStats.applyAdvice(left, right, Seq("k"), "shuffle")
      .count() === 40L)
    intercept[IllegalArgumentException] {
      TableStats.applyAdvice(left, right, Seq("k"), "sort_merge")
    }
  }

  test("mcvProfile: exact top-k counts, deterministic count-desc value-asc tie-break, window over the rollup only") {
    val df = (Seq.fill(5)("x") ++ Seq.fill(3)("b") ++ Seq.fill(3)("a")
      ++ Seq("t1", "t2")).toDF("v")
    val got = TableStats.mcvProfile(df, "v", 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // 'a' and 'b' tie at 3: value-asc keeps 'a' — both engines replay it
    assert(got === Seq(("x", 5L), ("a", 3L)))
    // partition invariance (the build is a deterministic rollup + cut)
    val re = TableStats.mcvProfile(df.repartition(7), "v", 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(re === got)
    // NULLs never profile as a most-common value
    val withNull = Seq(Some("x"), None, None, None, Some("y")).toDF("v")
    assert(TableStats.mcvProfile(withNull, "v", 1).collect()
      .map(_.getString(0)).toSeq === Seq("x"))
  }

  test("equiJoinEstimateMcv: the four eqjoinsel terms on a hand example") {
    // A: x*5, a*3, tail {t1, t2} (mass 2, ndv 2 of total 4)
    // B: x*4, b*6, tail {t1}    (mass 1, ndv 1 of total 3)
    def mcv(rows: (String, Long)*) = rows.toSeq.toDF("mcv_value", "mcv_count")
    def side(n: Long, ndv: Long, s: String) =
      Seq((n, ndv)).toDF(s"n_$s", s"ndv_$s")
    val r = TableStats.equiJoinEstimateMcv(
      mcv(("x", 5L), ("a", 3L)), side(10L, 4L, "a"),
      mcv(("x", 4L), ("b", 6L)), side(11L, 3L, "b")).collect().head
    assert(r.getAs[Long]("t_matched") === 20L) // x: 5*4
    assert(r.getAs[Long]("t_a_tail") === 3L) // a(3) * 1 div 1
    assert(r.getAs[Long]("t_b_tail") === 6L) // b(6) * 2 div 2
    assert(r.getAs[Long]("t_tails") === 1L) // 2*1 div max(2,1)
    assert(r.getAs[Long]("est_join_rows_mcv") === 30L)
    assert(r.getAs[Long]("tail_ndv_b") === 1L)
    // t_matched arithmetic rides DECIMAL(38,0): two multi-billion-count
    // MCV entries whose LongType product silently WRAPPED to a negative
    // before (ADVICE r14) now compute exactly in decimal — a sum that
    // genuinely exceeds Long range fails LOUDLY at the final cast
    // (Spark 4 decimal->long overflow raises), never a wrapped number
    val big = 4000000000L // 4e9 * 4e9 = 1.6e19 > Long.MaxValue
    val loud = intercept[Exception] {
      TableStats.equiJoinEstimateMcv(
        mcv(("x", big)), side(big, 1L, "a"),
        mcv(("x", big)), side(big, 1L, "b")).collect()
    }
    assert(loud.getMessage.contains("CAST_OVERFLOW")
      || Option(loud.getCause).exists(_.getMessage.contains("CAST_OVERFLOW")),
      s"expected a loud overflow, got: ${loud.getMessage}")
    // and a large-but-in-range pair stays exact where long math wrapped:
    // 3e9 * 3 = 9e9 — trivially fine; the decimal path must agree
    val rOk = TableStats.equiJoinEstimateMcv(
      mcv(("x", 3000000000L)), side(3000000000L, 1L, "a"),
      mcv(("x", 3L)), side(3L, 1L, "b")).collect().head
    assert(rOk.getAs[Long]("t_matched") === 9000000000L)
  }

  test("equiJoinEstimateOverlap: measured-overlap formula, zero-guard") {
    val a = Seq((100L, 10L)).toDF("n_a", "ndv_a")
    val b = Seq((60L, 20L)).toDF("n_b", "ndv_b")
    val ops = Seq(4L).toDF("est_both")
    val r = TableStats.equiJoinEstimateOverlap(a, b, ops).collect().head
    // 4 * 100 * 60 div (10 * 20) = 120
    assert(r.getAs[Long]("est_join_rows_overlap") === 120L)
    val z = TableStats.equiJoinEstimateOverlap(
      Seq((0L, 0L)).toDF("n_a", "ndv_a"), Seq((0L, 0L)).toDF("n_b", "ndv_b"),
      Seq(0L).toDF("est_both")).collect().head
    assert(z.getAs[Long]("est_join_rows_overlap") === 0L)
  }

  test("hotColdJoin: identity with the plain inner join, hot branch broadcasts, guards") {
    import graft.engine.Skew
    // planted hot key 7 owns half the fact; NULL keys must vanish like
    // an inner join
    val fact = ((0L until 500L).map(i => (Some(7L), i))
      ++ (0L until 500L).map(i => (Some(i % 50L), i + 1000L))
      ++ Seq((Option.empty[Long], 9999L))).toDF("k", "x")
    val dim = (0L until 50L).map(k => (k, s"d$k")).toDF("k", "name")
    val got = Skew.hotColdJoin(fact, dim, "k", Seq(7L))
    val plain = fact.join(dim, Seq("k"))
    assert(got.count() === plain.count())
    assert(got.collect().map(_.toString).sorted.toSeq
      === plain.collect().map(_.toString).sorted.toSeq)
    assert(got.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "hot branch not broadcast")
    intercept[IllegalArgumentException] {
      Skew.hotColdJoin(fact, dim, "k", Nil)
    }
    intercept[IllegalArgumentException] {
      Skew.hotColdJoin(fact, dim, "k", Seq(7L, null))
    }
  }

  test("analyzeHook: sidecars rewrite after CTAS and after the merge; run-level misuse raises") {
    import graft.engine.{HookContext, Incremental, IncrementalMat, Model,
      Registry, Warehouse}
    val wh = new Warehouse(Scratch.tempDir("graft_wh").toString, spark)
    val reg = new Registry(spark, wh)
    val src = (1L to 10L).map(i => (i, i % 3L)).toDF("id", "g")
    reg.source("src", src)
    reg.register(Model("t", Seq("src"),
      IncrementalMat(Incremental.Merge, Seq("id")),
      ctx => if (ctx.isIncremental) ctx.ref("src").filter(col("id") > 4L)
        else ctx.ref("src").filter(col("id") <= 4L),
      postHooks = Seq(TableStats.analyzeHook(Seq("id", "g"), 16))))
    reg.run()
    def prof() = TableStats.readProfile(wh, "t", "id", "x")
      .collect().head
    assert(prof().getAs[Long]("n_x") === 4L
      && prof().getAs[Long]("ndv_x") === 4L)
    reg.run() // merge admits ids 5..10; the hook must re-profile
    assert(prof().getAs[Long]("n_x") === 10L
      && prof().getAs[Long]("ndv_x") === 10L)
    // both declared columns profiled
    assert(wh.read("t__stats_counts").count() === 2L)
    // a run-level context (no model) must raise, not write a sidecar
    intercept[IllegalArgumentException] {
      TableStats.analyzeHook(Seq("id"))(HookContext(spark, wh, None, None))
    }
    // the FULL hook: declared MCV and summary columns land as two more
    // sidecars, byte-equal to the direct builds over the relation
    reg.register(Model("t2", Seq("src"), graft.engine.TableMat(),
      ctx => ctx.ref("src"),
      postHooks = Seq(TableStats.analyzeHook(Seq("id"), 16,
        mcvCols = Seq("g"), mcvK = 2,
        summaryCols = Seq("id"), summaryK = 8))))
    reg.run(select = Seq("t2"))
    val rel = wh.read("t2")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(wh.read("t2__stats_mcv"))
      === rows(TableStats.mcvProfiles(rel, Seq("g"), 2)))
    assert(rows(wh.read("t2__stats_sums"))
      === rows(TableStats.columnSummaries(rel, Seq("id"), 8)))
    // the base hook (no declared mcv/summary cols) writes NO extra
    // sidecars — t's lifecycle above must not have created them
    assert(!wh.exists("t__stats_mcv") && !wh.exists("t__stats_sums"))
  }

  test("feedbackAdjust: mass-weighted ratio correction, empty-feedback passthrough") {
    val raw = Seq(100L).toDF("est_ind")
    val fb = Seq((10L, 55L), (30L, 145L)).toDF("fb_est", "fb_actual")
    val r = TableStats.feedbackAdjust(raw, fb, "est_ind").collect().head
    // ratio = (55+145) div (10+30) = 5 -> 100 * 200 div 40 = 500
    assert(r.getAs[Long]("est_ind_adjusted") === 500L)
    assert(r.getAs[Long]("fb_actual_sum") === 200L)
    // no observations: the raw estimate passes through unchanged
    val empty = fb.filter(lit(false))
    assert(TableStats.feedbackAdjust(raw, empty, "est_ind")
      .collect().head.getAs[Long]("est_ind_adjusted") === 100L)
  }

  test("clusterAdvisor: workload-weighted pricing, and the chosen layout actually prunes") {
    import graft.engine.Warehouse
    // a: uniform 0..999; b: uniform 0..99 — workload is a tight range
    // on a (sel 10%) with weight 4 and a half-domain range on b with
    // weight 1
    val df = spark.range(0, 1000)
      .select(col("id").as("a"), (col("id") % 100L).as("b"))
    val summaries = TableStats.columnSummaries(df, Seq("a", "b"), 100)
    val workload = Seq(("a", 0L, 99L, 4L), ("b", 0L, 49L, 1L))
      .toDF("wl_col", "wl_lo", "wl_hi", "wl_weight")
    val got = TableStats.clusterAdvisor(summaries, workload, Seq("a", "b"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("est_scan_ppm"), r.getAs[Long]("chosen")))).toMap
    // a: (4*100000 + 1*1000000) / 5 = 280000; b: (4*1e6 + 1*500000)/5
    assert(got("a") === ((280000L, 1L)), s"got $got")
    assert(got("b") === ((900000L, 0L)), s"got $got")
    // duplicate workload rows pre-aggregate by weight: twice weight-2
    // scores exactly like once weight-4 — no double-counted summary
    // mass, no frac_ppm above 1e6 (ADVICE r14)
    val dup = Seq(("a", 0L, 99L, 2L), ("a", 0L, 99L, 2L), ("b", 0L, 49L, 1L))
      .toDF("wl_col", "wl_lo", "wl_hi", "wl_weight")
    val gotDup = TableStats.clusterAdvisor(summaries, dup, Seq("a", "b"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("est_scan_ppm"), r.getAs[Long]("chosen")))).toMap
    assert(gotDup === got, s"duplicate workload rows skewed the advice: $gotDup vs $got")
    // the physical loop: the advised layout's manifest prunes the
    // dominant predicate; the rejected layout reads every file
    val wh = new Warehouse(Scratch.tempDir("graft_wh").toString, spark)
    wh.writeSwap("by_a", df.repartitionByRange(8, col("a"))
      .sortWithinPartitions("a"), statsCols = Seq("a"))
    wh.writeSwap("by_b", df.repartitionByRange(8, col("b"))
      .sortWithinPartitions("b"), statsCols = Seq("a"))
    val Some((keptA, nA)) = wh.statsPrunedFiles("by_a", "a", 0L, 99L)
    val Some((keptB, nB)) = wh.statsPrunedFiles("by_b", "a", 0L, 99L)
    assert(keptA.size < nA, s"advised layout kept ${keptA.size} of $nA")
    assert(keptB.size === nB, s"rejected layout pruned ${keptB.size} of $nB")
    // integral-only contract
    intercept[IllegalArgumentException] {
      TableStats.columnSummaries(df.withColumn("s", lit("x")), Seq("s"), 10)
    }
  }

  test("layoutAdvisor: MCV-exact equality pricing, tail-average fallback, unprofiled candidate never prices free") {
    // b: value 7 owns half the rows (the MCV head), tail 500..999
    // distinct; a: uniform 0..999
    val df = spark.range(0, 1000).select(col("id").as("a"),
      when(col("id") < 500L, lit(7L)).otherwise(col("id")).as("b"))
    val sums = TableStats.columnSummaries(df, Seq("a", "b"), 2000)
    val mcvs = TableStats.mcvProfiles(df, Seq("a", "b"), 1)
    val counts = TableStats.columnCounts(df, Seq("a", "b"))
    val ndv = TableStats.ndvEstimate(
      TableStats.columnRegisters(df, Seq("a", "b"), 1024), 1024)
    def run(wl: Seq[(String, String, Option[Long], Option[Long],
        Option[String], Long)], cands: Seq[String]) =
      TableStats.layoutAdvisor(sums, mcvs, counts, ndv,
        wl.toDF("wl_col", "wl_kind", "wl_lo", "wl_hi", "wl_value",
          "wl_weight"), cands)
        .collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("est_scan_ppm"), r.getAs[Long]("chosen")))).toMap
    // mixed workload: range on a (sel 10%, weight 2) + two eq rows on b
    // (MCV value 7: exact 500000 ppm; tail value 600: (1000-500) div
    // (501-1) = 1 row -> 1000 ppm)
    val wl = Seq(
      ("a", "range", Some(0L), Some(99L), Option.empty[String], 2L),
      ("b", "eq", None, None, Some("7"), 1L),
      ("b", "eq", None, None, Some("600"), 1L))
    val got = run(wl, Seq("a", "b"))
    // a: (2*100000 + 2*1000000) / 4; b: (2*1000000 + 500000 + 1000) / 4
    assert(got("a") === ((550000L, 1L)), s"got $got")
    assert(got("b") === ((625250L, 0L)), s"got $got")
    // equality-dominated workload flips the advice to the MCV-served col
    val eqOnly = run(wl.drop(1), Seq("a", "b"))
    assert(eqOnly("b") === ((250500L, 1L)) && eqOnly("a")._1 === 1000000L,
      s"got $eqOnly")
    // an unprofiled candidate prices eq rows at 1e6 — never as free
    val miss = run(wl.drop(1), Seq("zz"))
    assert(miss("zz")._1 === 1000000L, s"got $miss")
    // the physical loop (the q498 discipline): the eq-advised column's
    // BLOOM sidecar actually serves the equality read — files pruned,
    // rows identical — while the rejected range layout reads every file
    import graft.engine.Warehouse
    val wh = new Warehouse(
      Scratch.tempDir("graft_wh").toString, spark)
    wh.writeSwap("by_b", df.repartition(8, col("b")),
      bloomCols = Seq("b"))
    wh.writeSwap("by_a", df.repartitionByRange(8, col("a"))
      .sortWithinPartitions("a"), statsCols = Seq("a"))
    val eqRead = wh.readPrunedEq("by_b", "b", 600L)
    assert(eqRead.inputFiles.length < wh.read("by_b").inputFiles.length,
      "advised bloom layout did not prune the equality read")
    assert(eqRead.collect().map(_.getLong(1)).toSeq === Seq(600L))
    val rejected = wh.readPrunedEq("by_a", "b", 600L)
    assert(rejected.inputFiles.length ===
      wh.read("by_a").inputFiles.length,
      "rejected layout has no evidence for b — must read every file")
    assert(rejected.count() === 1L)
  }

  test("zorderAdvisor: pair prices the product of per-dimension fractions, singles price one, missing summary prices full") {
    val df = spark.range(0, 1000)
      .select(col("id").as("a"), (col("id") % 100L).as("b"))
    val sums = TableStats.columnSummaries(df, Seq("a", "b"), 2000)
    def run(boxes: Seq[(String, Long, Long, String, Long, Long, Long)],
        cands: Seq[Seq[String]]) =
      TableStats.zorderAdvisor(sums,
        boxes.toDF("wl_col1", "wl_lo1", "wl_hi1", "wl_col2", "wl_lo2",
          "wl_hi2", "wl_weight"), cands)
        .collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("est_scan_ppm"), r.getAs[Long]("chosen")))).toMap
    // one 2-d box: a in [0,99] (10%), b in [0,9] (10%)
    val boxes = Seq(("a", 0L, 99L, "b", 0L, 9L, 1L))
    val got = run(boxes, Seq(Seq("a"), Seq("b"), Seq("a", "b")))
    assert(got("a") === ((100000L, 0L)) && got("b") === ((100000L, 0L)),
      s"got $got")
    assert(got("a|b") === ((10000L, 1L)),
      s"pair must price the product: $got")
    // duplicate boxes pre-aggregate by weight
    val dup = run(boxes ++ boxes, Seq(Seq("a", "b")))
    assert(dup("a|b")._1 === 10000L, s"got $dup")
    // a predicate column with no stored summary prices 1e6 (not free)
    val miss = run(Seq(("a", 0L, 99L, "zz", 0L, 9L, 1L)),
      Seq(Seq("a", "zz")))
    assert(miss("a|zz")._1 === 100000L, s"got $miss")
    intercept[IllegalArgumentException] {
      TableStats.zorderAdvisor(sums, boxes.toDF("wl_col1", "wl_lo1",
        "wl_hi1", "wl_col2", "wl_lo2", "wl_hi2", "wl_weight"),
        Seq(Seq("a", "b", "zz")))
    }
    // the physical loop (ManifestSpec carries the full Morton pin): the
    // advised PAIR's Z-order layout out-prunes the best single column
    // on the declared box
    import graft.engine.Warehouse
    val grid = (for { a <- 0L until 64L; b <- 0L until 64L }
      yield (a, b)).toDF("a", "b")
    val gSums = TableStats.columnSummaries(grid, Seq("a", "b"), 8192)
    val gBoxes = Seq(("a", 0L, 15L, "b", 0L, 15L, 1L))
      .toDF("wl_col1", "wl_lo1", "wl_hi1", "wl_col2", "wl_lo2",
        "wl_hi2", "wl_weight")
    val adv = TableStats.zorderAdvisor(gSums, gBoxes,
      Seq(Seq("a"), Seq("b"), Seq("a", "b"))).collect()
    assert(adv.filter(_.getAs[Long]("chosen") === 1L)
      .map(_.getString(0)).toSeq === Seq("a|b"), adv.mkString(","))
    val wh = new Warehouse(
      Scratch.tempDir("graft_wh").toString, spark)
    wh.writeSwap("zpair", grid, statsCols = Seq("a", "b"))
    wh.rewriteZOrdered("zpair", "a", "b", numFiles = 16)
    wh.writeSwap("zsingle", grid.repartitionByRange(16, col("a"))
      .sortWithinPartitions("a"), statsCols = Seq("a", "b"))
    val box = Seq(("a", 0L, 15L), ("b", 0L, 15L))
    val Some((keptP, nP)) = wh.statsPrunedFiles("zpair", box)
    val Some((keptS, nS)) = wh.statsPrunedFiles("zsingle", box)
    assert(nP === 16 && nS === 16)
    assert(keptP.size < keptS.size,
      s"advised pair kept ${keptP.size}, single kept ${keptS.size}")
    // identity on the advised layout
    assert(wh.readPrunedBox("zpair", box).count() === 256L)
  }

  test("zorderHook: advised pair physically re-lays the model (box read prunes), single-col path clusters, missing sums raises") {
    import graft.engine.{HookContext, Model, Registry, TableMat, Warehouse}
    val wh = new Warehouse(
      Scratch.tempDir("graft_zhook").toString, spark)
    val reg = new Registry(spark, wh)
    val grid = (for { a <- 0L until 64L; b <- 0L until 64L }
      yield (a, b)).toDF("a", "b")
    reg.source("src", grid)
    val boxes = Seq(("a", 0L, 15L, "b", 0L, 15L, 1L))
      .toDF("wl_col1", "wl_lo1", "wl_hi1", "wl_col2", "wl_lo2",
        "wl_hi2", "wl_weight")
    reg.register(Model("t", Seq("src"), TableMat(),
      ctx => ctx.ref("src"),
      postHooks = Seq(
        TableStats.analyzeHook(Seq("a", "b"),
          summaryCols = Seq("a", "b"), summaryK = 8192),
        TableStats.zorderHook(boxes,
          Seq(Seq("a"), Seq("b"), Seq("a", "b")), numFiles = 16))))
    reg.run()
    // the pair won (sel .25 x .25): the relation is Morton-laid and the
    // 2-d box keeps FEWER files than a one-dimension slab could
    val box = Seq(("a", 0L, 15L), ("b", 0L, 15L))
    val Some((kept, n)) = wh.statsPrunedFiles("t", box)
    assert(n === 16 && kept.size < 4,
      s"pair layout kept ${kept.size} of $n — no Morton locality")
    assert(wh.readPrunedBox("t", box).count() === 256L)
    assert(wh.read("t").count() === 4096L)
    // single-column candidates: the clustered-swap path, manifest armed
    reg.register(Model("t2", Seq("src"), TableMat(),
      ctx => ctx.ref("src"),
      postHooks = Seq(
        TableStats.analyzeHook(Seq("a"), summaryCols = Seq("a"),
          summaryK = 8192),
        TableStats.zorderHook(boxes, Seq(Seq("a")), numFiles = 8))))
    reg.run(select = Seq("t2"))
    val Some((keptA, nA)) = wh.statsPrunedFiles("t2", "a", 0L, 15L)
    assert(nA === 8 && keptA.size < nA,
      s"clustered layout kept ${keptA.size}/$nA")
    assert(wh.readPruned("t2", "a", 0L, 15L).count() === 1024L)
    // no summaries sidecar -> loud raise; run-level context raises
    intercept[IllegalArgumentException] {
      TableStats.zorderHook(boxes, Seq(Seq("a")))(
        HookContext(spark, wh, Some("nosums"), None))
    }
    intercept[IllegalArgumentException] {
      TableStats.zorderHook(boxes, Seq(Seq("a")))(
        HookContext(spark, wh, None, None))
    }
  }

  test("rangeCountEstimate: exact on uncompressed registers, within the stride on compressed, grouped") {
    val vals = (1L to 1000L).toDF("v")
    val regs = QuantileSketch.qsRegisters(vals, Nil, col("v"))
    // uncompressed registers: every rank is exact, the estimate is exact
    val exact = TableStats.rangeCountEstimate(regs, Nil, 101L, 350L, 10)
      .collect().head
    assert(exact.getAs[Long]("est_in_range") === 250L)
    assert(exact.getAs[Long]("w_total") === 1000L)
    assert(exact.getAs[Long]("err_bound") === 100L) // ceil(1000/10)
    // k=10 compression: stride s = 100, the estimate must land within s
    val comp = QuantileSketch.qsCompress(regs, Nil, 10)
    for ((lo, hi, truth) <- Seq((101L, 350L, 250L), (1L, 77L, 77L),
        (900L, 2000L, 101L))) {
      val est = TableStats.rangeCountEstimate(comp, Nil, lo, hi, 10)
        .collect().head.getAs[Long]("est_in_range")
      assert(math.abs(est - truth) <= 100L,
        s"[$lo,$hi]: est $est vs exact $truth exceeds the stride bound")
    }
    // grouped form: per-group totals and estimates
    val two = QuantileSketch.qsRegisters(
      Seq.tabulate(100)(i => ("g1", i.toLong + 1L))
        .++(Seq.tabulate(50)(i => ("g2", i.toLong + 1L)))
        .toDF("g", "v"), Seq("g"), col("v"))
    val byG = TableStats.rangeCountEstimate(two, Seq("g"), 11L, 30L, 10)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("est_in_range"), r.getAs[Long]("w_total")))).toMap
    assert(byG === Map("g1" -> ((20L, 100L)), "g2" -> ((20L, 50L))))
    intercept[IllegalArgumentException] {
      TableStats.rangeCountEstimate(regs, Nil, 10L, 5L, 10)
    }
  }
}
