package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Pin.PinOps

/** Distribution-comparison and agreement statistics in exact arithmetic —
  * the hypothesis-test layer an experimentation/data-quality platform runs
  * on top of the marts (two-sample location/shape tests, rank correlation,
  * concentration, inter-annotator agreement, survival). Builder-brief
  * extension; the reference delegates statistics to its BI layer entirely
  * (its marts stop at rates and counts, e.g.
  * models/marts/quality/fct_gap_summary.sql:15-25), so this module supplies
  * the missing analytics the same way FeatureQueries/StatQueries do.
  *
  * Numeric discipline (the q208/q229 convention): every aggregate is an
  * exact integer (or DECIMAL(38,0)) moment; anything irrational (a z
  * statistic, a correlation) is ONE fixed IEEE expression over those exact
  * operands, so results are partitioning-independent and hash-compare
  * against an oracle that mirrors the same expression. Products that can
  * exceed 64 bits at warehouse row counts (marginal products, ppm
  * numerators) go through DECIMAL(38,0) explicitly.
  *
  * Scale discipline: nothing here ranks raw rows through a global window.
  * Every test reduces to a DISTINCT-VALUE rollup first (the
  * [[graft.operators.Ranking.valueRanks]] shape): one partial-agg shuffle
  * to (value -> per-group counts), then a cumulative window over distinct
  * values only, guarded by the same raise-don't-funnel contract — a
  * two-sample test on unbinned 100 TB doubles fails loudly and tells the
  * caller to bin (tests on continuous metrics should run on fixed-point
  * cents/micros anyway, which is also what makes them oracle-exact).
  */
object Inference {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Two-sample ECDF rollup: one row per distinct value with per-sample
    * counts and running (<= v) cumulative counts. `inB` marks sample-B
    * membership; rows where `valueCol` is NULL are ignored (a NULL metric
    * is absence of observation, not a rankable value — the
    * [[graft.operators.Ranking.valueRanks]] convention).
    *
    * The cumulative window is single-partition over DISTINCT values BY
    * DESIGN (an ECDF is a global prefix structure); the raise guard bounds
    * it exactly like valueRanks' ungrouped path.
    */
  def twoSampleCounts(df: DataFrame, valueCol: Column, inB: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    require(maxDistinct >= 1, s"maxDistinct: $maxDistinct")
    val counts = df.filter(valueCol.isNotNull)
      .groupBy(valueCol.as("v"))
      .agg(
        sum(when(inB, 0L).otherwise(1L)).as("cnt_a"),
        sum(when(inB, 1L).otherwise(0L)).as("cnt_b"))
    val byVal = Window.orderBy(col("v").asc)
    val guard = when(row_number().over(byVal) > maxDistinct,
      raise_error(lit(s"twoSampleCounts exceeded $maxDistinct distinct " +
        "values — the ECDF cum-sum window is single-partition; bin the " +
        "metric to fixed-point first")).cast("long")).otherwise(lit(0L))
    counts
      .withColumn("cum_a", sum(col("cnt_a")).over(byVal) + guard)
      .withColumn("cum_b", sum(col("cnt_b")).over(byVal))
  }

  /** Cliff's delta ordinal effect size — the magnitude companion to
    * [[mannWhitney]]'s significance: `delta = (#(a>b) - #(a<b)) / (n_a
    * n_b)` in [-1, 1], reading "how often does a random A value beat a
    * random B value". Rides the SAME doubled-U accounting (U2_a counts
    * 2*#(a>b) + #ties), so `delta*nm = U2_a - n_a*n_b` exactly and
    * `delta_ppm` is one SIGN-WRAPPED truncating division over the
    * mannWhitney outputs — no extra scan, no new machinery. The
    * `magnitude` label applies the Romano 2006 thresholds (negligible
    * < 0.147, small < 0.33, medium < 0.474, large) on |delta|, pure
    * integer compares. One row: (n_a, n_b, u2_a, delta_ppm, magnitude).
    */
  def cliffsDelta(df: DataFrame, valueCol: Column, inB: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    val num = dec(col("u2_a")) - dec(col("n_a")) * col("n_b")
    val den = dec(col("n_a")) * col("n_b")
    mannWhitney(df, valueCol, inB, maxDistinct)
      .withColumn("delta_ppm",
        (signum(num).cast("long") *
          call_function("div", abs(num) * 1000000L, nullif(den, dec(lit(0))))
            .cast("long")))
      .withColumn("magnitude",
        when(col("delta_ppm").isNull, lit(null).cast("string"))
          .when(abs(col("delta_ppm")) < 147000L, "negligible")
          .when(abs(col("delta_ppm")) < 330000L, "small")
          .when(abs(col("delta_ppm")) < 474000L, "medium")
          .otherwise("large"))
      .select("n_a", "n_b", "u2_a", "delta_ppm", "magnitude")
  }

  /** Per-GROUP two-sample KS — the fleet version of [[ksTest]]: one D per
    * group (the "which segments drifted" sweep a monitoring system runs
    * nightly over every slice at once). Unlike the global test, the ECDF
    * cum-sum window PARTITIONS on the group columns, so segments process
    * fully in parallel and the single-partition guard is unnecessary —
    * per-group distinct-value cardinality is the only sort width. Same
    * exact arithmetic as [[ksTest]]; one row per group with at least one
    * observation in EACH sample (a one-sided group has no defined D).
    */
  def ksTestByGroup(df: DataFrame, groupCols: Seq[String], valueCol: Column,
      inB: Column): DataFrame = {
    require(groupCols.nonEmpty, "ksTestByGroup needs group columns — use ksTest")
    val gcols = groupCols.map(col)
    val counts = df.filter(valueCol.isNotNull)
      .groupBy(gcols :+ valueCol.as("v"): _*)
      .agg(
        sum(when(inB, 0L).otherwise(1L)).as("cnt_a"),
        sum(when(inB, 1L).otherwise(0L)).as("cnt_b"))
    val byVal = Window.partitionBy(gcols: _*).orderBy(col("v").asc)
    val whole = Window.partitionBy(gcols: _*)
    val ecdf = counts
      .withColumn("cum_a", sum(col("cnt_a")).over(byVal))
      .withColumn("cum_b", sum(col("cnt_b")).over(byVal))
      .withColumn("n_a", sum(col("cnt_a")).over(whole))
      .withColumn("n_b", sum(col("cnt_b")).over(whole))
      // cum*n products in DECIMAL: LONG aborts (ANSI) past ~3e9 rows/side
      .withColumn("gap",
        abs(dec(col("cum_a")) * col("n_b") - dec(col("cum_b")) * col("n_a")))
    ecdf.groupBy(gcols :+ col("n_a") :+ col("n_b"): _*)
      .agg(max(col("gap")).cast("long").as("d_num"))
      .filter(col("n_a") > 0L && col("n_b") > 0L)
      .withColumn("d_ppm",
        call_function("div", dec(col("d_num")) * lit(1000000L),
          dec(col("n_a")) * col("n_b")).cast("long"))
  }

  /** Two-sample KS from two STORED register tables — the incremental
    * drift-monitor scorer: both sides arrive as `(qs_value, qs_weight)`
    * rollups (the [[graft.functions.QuantileSketch.qsRegisters]]
    * relation), so a nightly run scores today's window against a
    * baseline materialized ONCE, never rescanning baseline history —
    * the batch twin of the streaming
    * [[graft.streaming.EventsStream.driftFromRegisters]] path, exact
    * instead of binned. Same cross-multiplied integer D as [[ksTest]]:
    * `d_num = max_v |cum_a(v)*n_b - cum_b(v)*n_a|`,
    * `d_ppm = d_num*1e6 div (n_a*n_b)`; either side empty -> empty
    * frame (no defined distance). The value union is register-bounded
    * (two rollups, value-domain cardinality — the exactQuantiles
    * single-sort contract), so the scorer's cost is independent of how
    * many raw rows the baseline represents.
    */
  def ksFromRegisters(regsA: DataFrame, regsB: DataFrame): DataFrame = {
    val u = regsA.select(col("qs_value").as("v"),
        col("qs_weight").as("cnt_a"), lit(0L).as("cnt_b"))
      .unionByName(regsB.select(col("qs_value").as("v"),
        lit(0L).as("cnt_a"), col("qs_weight").as("cnt_b")))
      .groupBy(col("v"))
      .agg(sum(col("cnt_a")).as("cnt_a"), sum(col("cnt_b")).as("cnt_b"))
    val byVal = Window.orderBy(col("v").asc)
    val totals = u.agg(sum(col("cnt_a")).as("n_a"), sum(col("cnt_b")).as("n_b"))
    val gaps = u
      .withColumn("cum_a", sum(col("cnt_a")).over(byVal))
      .withColumn("cum_b", sum(col("cnt_b")).over(byVal))
      .crossJoin(broadcast(totals))
      .withColumn("gap",
        abs(dec(col("cum_a")) * col("n_b") - dec(col("cum_b")) * col("n_a")))
    gaps.groupBy(col("n_a"), col("n_b"))
      .agg(max(col("gap")).cast("long").as("d_num"))
      .filter(col("n_a") > 0L && col("n_b") > 0L)
      .withColumn("d_ppm",
        call_function("div", dec(col("d_num")) * lit(1000000L),
          dec(col("n_a")) * col("n_b")).cast("long"))
  }

  /** 1-D Wasserstein distance from two STORED register tables — the
    * metric-aware sibling of [[ksFromRegisters]] for the same nightly
    * stored-baseline loop ([[wassersteinByGroup]]'s integral over the
    * value axis, in exact micro-units of the register value):
    * `w1_micro = sum_v |cum_a*n_b - cum_b*n_a| * (v_next - v) * 1e6
    * div (n_a*n_b)`. Same contracts as the grouped form: either side
    * empty -> empty frame; a shared single distinct value emits
    * `w1_micro = 0` (the totals ride the pre-lead rollup). Register-
    * bounded cost, independent of represented row counts.
    */
  def w1FromRegisters(regsA: DataFrame, regsB: DataFrame): DataFrame = {
    val u = regsA.select(col("qs_value").as("v"),
        col("qs_weight").as("cnt_a"), lit(0L).as("cnt_b"))
      .unionByName(regsB.select(col("qs_value").as("v"),
        lit(0L).as("cnt_a"), col("qs_weight").as("cnt_b")))
      .groupBy(col("v"))
      .agg(sum(col("cnt_a")).as("cnt_a"), sum(col("cnt_b")).as("cnt_b"))
    val byVal = Window.orderBy(col("v").asc)
    val totals = u.agg(sum(col("cnt_a")).as("n_a"), sum(col("cnt_b")).as("n_b"))
    val termSum = u
      .withColumn("cum_a", sum(col("cnt_a")).over(byVal))
      .withColumn("cum_b", sum(col("cnt_b")).over(byVal))
      .withColumn("__next_v", lead(col("v"), 1).over(byVal))
      .filter(col("__next_v").isNotNull)
      .crossJoin(broadcast(totals))
      .agg(sum(
        abs(dec(col("cum_a")) * col("n_b") - dec(col("cum_b")) * col("n_a")) *
          (col("__next_v") - col("v"))).as("__s"))
    totals.crossJoin(termSum)
      .filter(col("n_a") > 0L && col("n_b") > 0L)
      .withColumn("w1_micro",
        call_function("div",
          coalesce(col("__s"), lit(0L).cast("decimal(38,0)")) * 1000000L,
          dec(col("n_a")) * col("n_b")).cast("long"))
      .drop("__s")
  }

  /** Total-variation distance from two STORED register tables — the
    * categorical third of the stored-baseline monitor family
    * ([[graft.pipeline.Stats.totalVariationDrift]]'s law over register
    * weights; registers key CATEGORIES here — quantized codes, buckets,
    * langid outputs): `tv_ppm = sum_v |w_a*n_b - w_b*n_a| * 1e6 div
    * (2*n_a*n_b)`. Values missing from one side contribute full mass —
    * the vanished/new-category catch binned KS misses. Either side
    * empty -> NULL tv_ppm on the one output row (mirroring
    * totalVariationDrift's guard).
    */
  def tvdFromRegisters(regsA: DataFrame, regsB: DataFrame): DataFrame = {
    val u = regsA.select(col("qs_value").as("v"),
        col("qs_weight").as("cnt_a"), lit(0L).as("cnt_b"))
      .unionByName(regsB.select(col("qs_value").as("v"),
        lit(0L).as("cnt_a"), col("qs_weight").as("cnt_b")))
      .groupBy(col("v"))
      .agg(sum(col("cnt_a")).as("cnt_a"), sum(col("cnt_b")).as("cnt_b"))
      .pinLazy() // feeds the totals agg AND the abs pass
    val totals = u.agg(count(lit(1)).as("n_cats"),
      coalesce(sum(col("cnt_a")), lit(0L)).as("n_a"),
      coalesce(sum(col("cnt_b")), lit(0L)).as("n_b"))
    u.crossJoin(broadcast(totals))
      .agg(first(col("n_cats")).as("n_cats"),
        first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        sum(abs(dec(col("cnt_a")) * dec(col("n_b")) -
          dec(col("cnt_b")) * dec(col("n_a")))).as("__s"))
      .select(col("n_cats"), col("n_a"), col("n_b"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          call_function("div", col("__s") * dec(lit(1000000L)),
            dec(lit(2L)) * dec(col("n_a")) * dec(col("n_b"))).cast("long"))
          .as("tv_ppm"))
  }

  /** Two-sample chi-square homogeneity statistic from two STORED register
    * tables — the fourth law of the stored-baseline monitor family
    * (beside [[ksFromRegisters]] order-sensitive, [[w1FromRegisters]]
    * metric-aware, [[tvdFromRegisters]] categorical-L1): the 2 x K
    * contingency of (side, register value) scored by the EXACT
    * [[graft.operators.Features.chiSquareCells]] cell law —
    * `term_milli = (o*N - rowTot*colTot)^2 * 1000 div (N*rowTot*colTot)`
    * — with the union of both sides' values as the densified category
    * domain (a value present on one side only carries its zero-cell term
    * on the other, the r10 sparse-rollup lesson). All products ride
    * DECIMAL(38,0); `chi2_milli` is the exact integer statistic,
    * `dof = n_cats - 1`. Unlike TVD (bounded, mass-proportional),
    * chi-square weights rare-category shifts by 1/E — the monitor law
    * for "a tail category exploded". Either side empty -> empty frame
    * (no defined statistic); zero-mass values (explicit zero-weight bag
    * rows on both sides) are not categories and drop. Register-bounded
    * cost, independent of represented row counts.
    */
  def chi2FromRegisters(regsA: DataFrame, regsB: DataFrame): DataFrame = {
    val u = regsA.select(col("qs_value").as("v"),
        col("qs_weight").as("cnt_a"), lit(0L).as("cnt_b"))
      .unionByName(regsB.select(col("qs_value").as("v"),
        lit(0L).as("cnt_a"), col("qs_weight").as("cnt_b")))
      .groupBy(col("v"))
      .agg(sum(col("cnt_a")).as("ca"), sum(col("cnt_b")).as("cb"))
      .filter(col("ca") + col("cb") > 0L)
      .pinLazy() // feeds the totals agg AND the term pass
    val totals = u.agg(count(lit(1)).as("n_cats"),
      coalesce(sum(col("ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("cb")), lit(0L)).as("n_b"))
    def term(o: Column, rowTot: Column) = {
      val n = dec(col("n_a")) + dec(col("n_b"))
      val delta = dec(o) * n - dec(rowTot) * (dec(col("ca")) + dec(col("cb")))
      call_function("div", delta * delta * lit(1000L),
        n * dec(rowTot) * (dec(col("ca")) + dec(col("cb"))))
    }
    u.crossJoin(broadcast(totals))
      .filter(col("n_a") > 0L && col("n_b") > 0L)
      .groupBy(col("n_cats"), col("n_a"), col("n_b"))
      .agg(sum(term(col("ca"), col("n_a")) + term(col("cb"), col("n_b")))
        .cast("long").as("chi2_milli"))
      .select(col("n_cats"), (col("n_cats") - 1L).as("dof"),
        col("n_a"), col("n_b"), col("chi2_milli"))
  }

  /** Triangular discrimination from two STORED register tables — the
    * FIFTH law of the stored-baseline monitor family (Vincze / Le Cam
    * distance, Topsoe 2000's Δ): `Δ(P,Q) = sum_v (p_v - q_v)^2 /
    * (p_v + q_v)`, the BOUNDED symmetric companion of
    * [[chi2FromRegisters]] — same squared-deviation shape, but the
    * denominator is the MIXTURE mass rather than the expected count, so
    * a near-empty category contributes at most its own relative mass
    * (no 1/E blowup) and the statistic lives in [0, 2] regardless of
    * sample sizes (2 exactly iff the supports are disjoint). The law to
    * alert ON A SCALE (ppm of the 0-2 range) where chi-square alerts on
    * significance. Fully rational: per-category term
    * `(ca*nb - cb*na)^2 * 1e6 div (na*nb*(ca*nb + cb*na))`, truncating
    * division mirrored verbatim in oracles; all products ride
    * DECIMAL(38,0). Either side empty -> empty frame; zero-mass values
    * drop. Register-bounded cost.
    */
  def tdFromRegisters(regsA: DataFrame, regsB: DataFrame): DataFrame = {
    val u = regsA.select(col("qs_value").as("v"),
        col("qs_weight").as("cnt_a"), lit(0L).as("cnt_b"))
      .unionByName(regsB.select(col("qs_value").as("v"),
        lit(0L).as("cnt_a"), col("qs_weight").as("cnt_b")))
      .groupBy(col("v"))
      .agg(sum(col("cnt_a")).as("ca"), sum(col("cnt_b")).as("cb"))
      .filter(col("ca") + col("cb") > 0L)
      .pinLazy() // feeds the totals agg AND the term pass
    val totals = u.agg(count(lit(1)).as("n_cats"),
      coalesce(sum(col("ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("cb")), lit(0L)).as("n_b"))
    u.crossJoin(broadcast(totals))
      .filter(col("n_a") > 0L && col("n_b") > 0L)
      .groupBy(col("n_cats"), col("n_a"), col("n_b"))
      .agg(sum({
        val delta = dec(col("ca")) * dec(col("n_b")) -
          dec(col("cb")) * dec(col("n_a"))
        val mix = dec(col("ca")) * dec(col("n_b")) +
          dec(col("cb")) * dec(col("n_a"))
        call_function("div", delta * delta * lit(1000000L),
          dec(col("n_a")) * dec(col("n_b")) * mix)
      }).cast("long").as("td_ppm"))
      .select(col("n_cats"), col("n_a"), col("n_b"), col("td_ppm"))
  }

  /** Grouped KS against ONE shared baseline — the fleet-scoring form of
    * [[ksFromRegisters]]: `live` carries per-group registers
    * (`groupCols..., qs_value, qs_weight`), `baseline` one shared
    * register rollup, and every group is scored in a SINGLE job (the
    * nightly "score all of yesterday's windows" shape — a driver loop of
    * per-group scorers would launch G jobs and rescan the baseline G
    * times). The baseline is broadcast once and replicated per group
    * ONLY at register grain: total work is groups x union-domain
    * registers, independent of represented raw rows on either side.
    * Output: one row per group with at least one observation on EACH
    * side, `n_a` = baseline total, `n_b` = the group's total, same exact
    * cross-multiplied `d_num`/`d_ppm` as [[ksFromRegisters]].
    */
  def ksFromRegistersByGroup(live: DataFrame, baseline: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty,
      "ksFromRegistersByGroup needs group columns — use ksFromRegisters")
    val gcols = groupCols.map(col)
    // pin the live registers: they feed BOTH the group enumeration and
    // the union (register-bounded, so the pin is free; without it a
    // DERIVED live side re-scans its raw source per subtree)
    val lv = live.select(gcols ++ Seq(col("qs_value"), col("qs_weight")): _*)
      .pinLazy()
    val groups = lv.select(gcols: _*).distinct()
    val u = lv.select(gcols ++ Seq(col("qs_value").as("v"),
        lit(0L).as("cnt_a"), col("qs_weight").as("cnt_b")): _*)
      .unionByName(groups.crossJoin(broadcast(
        baseline.select(col("qs_value").as("v"),
          col("qs_weight").as("cnt_a"), lit(0L).as("cnt_b")))))
      .groupBy(gcols :+ col("v"): _*)
      .agg(sum(col("cnt_a")).as("cnt_a"), sum(col("cnt_b")).as("cnt_b"))
    val byVal = Window.partitionBy(gcols: _*).orderBy(col("v").asc)
    val whole = Window.partitionBy(gcols: _*)
    val ecdf = u
      .withColumn("cum_a", sum(col("cnt_a")).over(byVal))
      .withColumn("cum_b", sum(col("cnt_b")).over(byVal))
      .withColumn("n_a", sum(col("cnt_a")).over(whole))
      .withColumn("n_b", sum(col("cnt_b")).over(whole))
      .withColumn("gap",
        abs(dec(col("cum_a")) * col("n_b") - dec(col("cum_b")) * col("n_a")))
    ecdf.groupBy(gcols :+ col("n_a") :+ col("n_b"): _*)
      .agg(max(col("gap")).cast("long").as("d_num"))
      .filter(col("n_a") > 0L && col("n_b") > 0L)
      .withColumn("d_ppm",
        call_function("div", dec(col("d_num")) * lit(1000000L),
          dec(col("n_a")) * col("n_b")).cast("long"))
  }

  /** The full drift panel — ALL FIVE register laws ([[ksFromRegisters]]
    * order-sensitive D, [[w1FromRegisters]] metric-aware integral,
    * [[tvdFromRegisters]] categorical L1, [[chi2FromRegisters]]
    * 1/E-weighted significance, [[tdFromRegisters]] bounded symmetric
    * scale) for MANY live windows against ONE stored baseline, computed
    * from a SINGLE union-densified rollup and ONE cumulative window pass
    * per group: the nightly dashboard row. Five separate scorer calls
    * would densify, window, and aggregate the same G x K register rows
    * five times; the panel derives every law from the same `(cum_a,
    * cum_b, ca, cb, next_v)` row — exactly the quantities each scorer
    * already defines, so each output column is spec-pinned to equal its
    * standalone scorer. Output per group with mass on BOTH sides:
    * `n_cats, dof, n_a, n_b, d_num, d_ppm, w1_micro, tv_ppm, chi2_milli,
    * td_ppm`. Register-bounded cost (groups x union-domain registers).
    */
  def driftPanelFromRegisters(live: DataFrame, baseline: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty,
      "driftPanelFromRegisters needs group columns — compose the scorers")
    val gcols = groupCols.map(col)
    // pin the live registers (the ksFromRegistersByGroup rationale: they
    // feed the group enumeration AND the union; register-bounded pin)
    val lv = live.select(gcols ++ Seq(col("qs_value"), col("qs_weight")): _*)
      .pinLazy()
    val groups = lv.select(gcols: _*).distinct()
    val u = lv.select(gcols ++ Seq(col("qs_value").as("v"),
        lit(0L).as("cnt_a"), col("qs_weight").as("cnt_b")): _*)
      .unionByName(groups.crossJoin(broadcast(
        baseline.select(col("qs_value").as("v"),
          col("qs_weight").as("cnt_a"), lit(0L).as("cnt_b")))))
      .groupBy(gcols :+ col("v"): _*)
      .agg(sum(col("cnt_a")).as("ca"), sum(col("cnt_b")).as("cb"))
      .filter(col("ca") + col("cb") > 0L)
    val byVal = Window.partitionBy(gcols: _*).orderBy(col("v").asc)
    val whole = Window.partitionBy(gcols: _*)
    val e = u
      .withColumn("cum_a", sum(col("ca")).over(byVal))
      .withColumn("cum_b", sum(col("cb")).over(byVal))
      .withColumn("__next_v", lead(col("v"), 1).over(byVal))
      .withColumn("n_a", sum(col("ca")).over(whole))
      .withColumn("n_b", sum(col("cb")).over(whole))
      .withColumn("n_cats", count(lit(1)).over(whole))
      // the one-sided guard comes BEFORE any division (ANSI evaluation
      // order across operators is not guaranteed — the q436 lesson)
      .filter(col("n_a") > 0L && col("n_b") > 0L)
    val gap = abs(dec(col("cum_a")) * col("n_b") - dec(col("cum_b")) * col("n_a"))
    def chiTerm(o: Column, rowTot: Column) = {
      val n = dec(col("n_a")) + dec(col("n_b"))
      val delta = dec(o) * n - dec(rowTot) * (dec(col("ca")) + dec(col("cb")))
      call_function("div", delta * delta * lit(1000L),
        n * dec(rowTot) * (dec(col("ca")) + dec(col("cb"))))
    }
    val tdTerm = {
      val delta = dec(col("ca")) * dec(col("n_b")) -
        dec(col("cb")) * dec(col("n_a"))
      val mix = dec(col("ca")) * dec(col("n_b")) +
        dec(col("cb")) * dec(col("n_a"))
      call_function("div", delta * delta * lit(1000000L),
        dec(col("n_a")) * dec(col("n_b")) * mix)
    }
    e.groupBy(gcols ++ Seq(col("n_cats"), col("n_a"), col("n_b")): _*)
      .agg(
        max(gap).as("__gap_max"),
        sum(gap * when(col("__next_v").isNotNull, col("__next_v") - col("v"))
          .otherwise(lit(0L))).as("__w1_s"),
        sum(abs(dec(col("ca")) * dec(col("n_b")) -
          dec(col("cb")) * dec(col("n_a")))).as("__tv_s"),
        sum(chiTerm(col("ca"), col("n_a")) + chiTerm(col("cb"), col("n_b")))
          .cast("long").as("chi2_milli"),
        sum(tdTerm).cast("long").as("td_ppm"))
      .select(gcols ++ Seq(
        col("n_cats"), (col("n_cats") - 1L).as("dof"),
        col("n_a"), col("n_b"),
        col("__gap_max").cast("long").as("d_num"),
        call_function("div", dec(col("__gap_max")) * lit(1000000L),
          dec(col("n_a")) * col("n_b")).cast("long").as("d_ppm"),
        call_function("div", col("__w1_s") * lit(1000000L),
          dec(col("n_a")) * col("n_b")).cast("long").as("w1_micro"),
        call_function("div", col("__tv_s") * lit(1000000L),
          dec(lit(2L)) * dec(col("n_a")) * col("n_b")).cast("long").as("tv_ppm"),
        col("chi2_milli"), col("td_ppm")): _*)
  }

  /** Two-sample Kolmogorov-Smirnov D statistic, exactly. D is rational
    * with denominator n_a*n_b: `d_num = max_v |cum_a(v)*n_b - cum_b(v)*n_a|`,
    * reported as `d_ppm = d_num*1e6 div (n_a*n_b)` plus the smallest value
    * attaining the max (`d_at`) — the split point a drift investigation
    * looks at first. Two passes over the distinct-value rollup (max, then
    * argmax), both broadcast-joined against one-row aggregates. One row.
    */
  def ksTest(df: DataFrame, valueCol: Column, inB: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    val ecdf = twoSampleCounts(df, valueCol, inB, maxDistinct)
    val totals = ecdf.agg(max(col("cum_a")).as("n_a"), max(col("cum_b")).as("n_b"))
    val gaps = ecdf.crossJoin(broadcast(totals))
      // cum*n products in DECIMAL: LONG aborts (ANSI) past ~3e9 rows/side;
      // the reported d_num stays LONG (cast below — d_num <= n_a*n_b, so
      // the cast holds to ~9e18 and aborts loudly beyond, never wraps)
      .withColumn("gap",
        abs(dec(col("cum_a")) * col("n_b") - dec(col("cum_b")) * col("n_a")))
    val dmax = gaps.agg(max(col("gap")).as("d_num"))
    gaps.crossJoin(broadcast(dmax))
      .filter(col("gap") === col("d_num"))
      .groupBy(col("n_a"), col("n_b"), col("d_num").cast("long").as("d_num"))
      .agg(min(col("v")).as("d_at"))
      .withColumn("d_ppm",
        call_function("div", dec(col("d_num")) * lit(1000000L),
          dec(col("n_a")) * col("n_b")).cast("long"))
      .select("n_a", "n_b", "d_num", "d_ppm", "d_at")
  }

  /** Two-sample Cramér-von Mises statistic — [[ksTest]]'s
    * whole-distribution sibling: where KS sees only the single largest
    * ECDF gap, CvM integrates the SQUARED gap over every observation,
    * catching distributions that differ everywhere a little instead of
    * somewhere a lot. Exactly, over the same [[twoSampleCounts]] rollup:
    * `T = n_a*n_b/(n_a+n_b)^2 * sum_obs (F_a - F_b)^2` where the sum
    * weights each distinct value by its row count; with integer ECDFs
    * `t_micro = sum_v cnt_v * (cum_a*n_b - cum_b*n_a)^2 * 1e6
    * div ((n_a*n_b) * (n_a+n_b)^2)` — DECIMAL squares, one integral
    * division. One row: (n_a, n_b, t_micro).
    */
  def cramerVonMises(df: DataFrame, valueCol: Column, inB: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    val ecdf = twoSampleCounts(df, valueCol, inB, maxDistinct)
    val totals = ecdf.agg(max(col("cum_a")).as("n_a"), max(col("cum_b")).as("n_b"))
    val gap = dec(col("cum_a")) * col("n_b") - dec(col("cum_b")) * col("n_a")
    ecdf.crossJoin(broadcast(totals))
      .withColumn("__t", dec(col("cnt_a") + col("cnt_b")) * gap * gap)
      .groupBy(col("n_a"), col("n_b"))
      .agg(sum(col("__t")).as("__s"))
      .withColumn("t_micro",
        call_function("div", col("__s") * 1000000L,
          (dec(col("n_a")) * col("n_b")) *
            (dec(col("n_a") + col("n_b")) * (col("n_a") + col("n_b"))))
          .cast("long"))
      .drop("__s")
  }

  /** Per-group two-sample 1-D Wasserstein distance (earth mover), exactly
    * — the metric-aware sibling of [[ksTestByGroup]]: where KS and CvM see
    * only ECDF gaps, W1 integrates the gap over the VALUE AXIS
    * (`W1 = integral |F_a - F_b| dv`), so "shifted by 100ms" reads 10x
    * "shifted by 10ms" instead of identically. With integer ECDFs the
    * integral is the exact sum over consecutive distinct values of
    * `|cum_a*n_b - cum_b*n_a| * (v_next - v)`; reported as
    * `w1_micro = sum * 1e6 div (n_a * n_b)` — micro-units of `valueCol`
    * (so fixed-point inputs stay hash-exact). Groups with an empty side
    * drop (no defined distance); a group whose two samples share exactly
    * one distinct value emits `w1_micro = 0` (zero distance, NOT a
    * dropped row — a drift monitor must read "no drift", never "no
    * result"; r11 advisor). Scale shape identical to ksTestByGroup:
    * one (group, value) rollup shuffle, group-partitioned cumulative
    * window over DISTINCT values, keyed rollup out — fully parallel
    * across groups; per-group distinct cardinality is the only sort
    * width (bin continuous metrics to fixed-point first, the module
    * contract).
    */
  def wassersteinByGroup(df: DataFrame, groupCols: Seq[String],
      valueCol: Column, inB: Column): DataFrame = {
    require(groupCols.nonEmpty, "wassersteinByGroup needs groupCols — " +
      "wrap a global comparison in a constant group")
    val gcols = groupCols.map(col)
    val counts = df.filter(valueCol.isNotNull)
      .groupBy(gcols :+ valueCol.cast("long").as("v"): _*)
      .agg(
        sum(when(inB, 0L).otherwise(1L)).as("cnt_a"),
        sum(when(inB, 1L).otherwise(0L)).as("cnt_b"))
      .pinLazy() // feeds totals AND the terms window (shared-subtree pin)
    val byVal = Window.partitionBy(gcols: _*).orderBy(col("v").asc)
    // totals from the PRE-filter rollup, so a single-distinct-value group
    // (whose every row the __next_v filter removes) still carries its
    // n_a/n_b and emits w1_micro = 0 via the left join below
    val totals = counts.groupBy(groupCols.head, groupCols.tail: _*)
      .agg(sum(col("cnt_a")).as("n_a"), sum(col("cnt_b")).as("n_b"))
    val whole = Window.partitionBy(gcols: _*)
    val termSums = counts
      .withColumn("cum_a", sum(col("cnt_a")).over(byVal))
      .withColumn("cum_b", sum(col("cnt_b")).over(byVal))
      .withColumn("n_a", sum(col("cnt_a")).over(whole))
      .withColumn("n_b", sum(col("cnt_b")).over(whole))
      .withColumn("__next_v", lead(col("v"), 1).over(byVal))
      // last value contributes nothing (both ECDFs are 1 past it)
      .filter(col("__next_v").isNotNull)
      .withColumn("__term",
        abs(dec(col("cum_a")) * col("n_b") - dec(col("cum_b")) * col("n_a")) *
          (col("__next_v") - col("v")))
      .groupBy(groupCols.head, groupCols.tail: _*)
      .agg(sum(col("__term")).as("__s"))
    totals.join(termSums, groupCols, "left")
      .filter(col("n_a") > 0L && col("n_b") > 0L)
      .withColumn("w1_micro",
        call_function("div",
          coalesce(col("__s"), lit(0L).cast("decimal(38,0)")) * 1000000L,
          dec(col("n_a")) * col("n_b")).cast("long"))
      .drop("__s")
  }

  /** Binary confusion counts + Matthews correlation coefficient — the
    * single-number binary-classifier summary robust to class imbalance
    * (unlike accuracy and F1, MCC uses all four cells symmetrically).
    * Exact integer tp/fp/fn/tn plus accuracy/precision/recall/f1 in ppm
    * (truncating integer division); MCC is ONE fixed IEEE chain over the
    * exact cells: `(tp*tn - fp*fn) / (((sqrt(tp+fp) * sqrt(tp+fn)) *
    * sqrt(tn+fp)) * sqrt(tn+fn))` — product of sqrts, never sqrt of the
    * product (the 4-way marginal product overflows DOUBLE's 53-bit
    * mantissa long before any single marginal does). Any zero marginal
    * -> NULL MCC (undefined, not NaN noise). One partial-agg row out.
    * [[classifierEval]] is the multi-class macro/micro sibling; this is
    * the binary readout with the cell-level statistic it cannot express.
    */
  def matthewsCorrelation(df: DataFrame, predCol: Column,
      labelCol: Column): DataFrame = {
    val base = df.filter(predCol.isNotNull && labelCol.isNotNull)
      .select(predCol.as("__p"), labelCol.as("__y"))
    val cells = base.agg(
      sum(when(col("__p") && col("__y"), 1L).otherwise(0L)).as("tp"),
      sum(when(col("__p") && !col("__y"), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("__p") && col("__y"), 1L).otherwise(0L)).as("fn"),
      sum(when(!col("__p") && !col("__y"), 1L).otherwise(0L)).as("tn"))
    val n = col("tp") + col("fp") + col("fn") + col("tn")
    cells
      .withColumn("accuracy_ppm",
        when(n > 0L, call_function("div",
          (col("tp") + col("tn")) * 1000000L, n)))
      .withColumn("precision_ppm",
        when(col("tp") + col("fp") > 0L, call_function("div",
          col("tp") * 1000000L, col("tp") + col("fp"))))
      .withColumn("recall_ppm",
        when(col("tp") + col("fn") > 0L, call_function("div",
          col("tp") * 1000000L, col("tp") + col("fn"))))
      .withColumn("f1_ppm",
        when(col("tp") * 2L + col("fp") + col("fn") > 0L,
          call_function("div", col("tp") * 2000000L,
            col("tp") * 2L + col("fp") + col("fn"))))
      .withColumn("mcc",
        when((col("tp") + col("fp")) > 0L && (col("tp") + col("fn")) > 0L &&
          (col("tn") + col("fp")) > 0L && (col("tn") + col("fn")) > 0L,
          (dec(col("tp")) * col("tn") - dec(col("fp")) * col("fn"))
            .cast("double") /
            (((sqrt((col("tp") + col("fp")).cast("double")) *
              sqrt((col("tp") + col("fn")).cast("double"))) *
              sqrt((col("tn") + col("fp")).cast("double"))) *
              sqrt((col("tn") + col("fn")).cast("double")))))
  }

  /** Mann-Whitney U with the tie-corrected normal approximation. All rank
    * arithmetic stays integral by working in DOUBLED ranks: a tied block
    * of `c` values preceded by `l` smaller rows has average rank
    * `(2l + c + 1) / 2`, so `rank2x = 2l + c + 1` is an integer and
    * `u2_a = 2*R_a - n_a*(n_a+1)` is exactly twice the U statistic.
    * `tie_term = sum(c^3 - c)` feeds the variance correction; the z score
    * is the single IEEE expression
    * `(u2_a - n_a*n_b) / sqrt(n_a*n_b*((n+1)*n*(n-1) - tie) / (3*n*(n-1)))`
    * over exact DECIMAL operands (the q229/q260 discipline). One row.
    */
  def mannWhitney(df: DataFrame, valueCol: Column, inB: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    val ecdf = twoSampleCounts(df, valueCol, inB, maxDistinct)
    val cnt = col("cnt_a") + col("cnt_b")
    val below = col("cum_a") + col("cum_b") - cnt
    val agg0 = ecdf.agg(
      max(col("cum_a")).as("n_a"),
      max(col("cum_b")).as("n_b"),
      sum(dec(col("cnt_a")) * dec(below * 2L + cnt + 1L)).as("r2_a"),
      sum(dec(cnt) * dec(cnt) * dec(cnt) - dec(cnt)).as("tie_term"))
    val n = col("n_a") + col("n_b")
    agg0
      .withColumn("u2_a",
        (col("r2_a") - dec(col("n_a")) * dec(col("n_a") + 1L)).cast("long"))
      .withColumn("tie_term", col("tie_term").cast("long"))
      .withColumn("z",
        (dec(col("u2_a")) - dec(col("n_a")) * col("n_b")).cast("double") /
          sqrt(((dec(col("n_a")) * dec(col("n_b"))) *
            (dec(n + 1L) * dec(n) * dec(n - 1L) - dec(col("tie_term"))))
            .cast("double") /
            // 3*n*(n-1) through DECIMAL too: in LONG it overflows (ANSI
            // abort) past n ~ 1.76e9 rows — under the module's stated
            // warehouse row-count envelope
            (dec(lit(3L)) * dec(n) * dec(n - 1L)).cast("double")))
      .select("n_a", "n_b", "u2_a", "tie_term", "z")
  }

  /** Spearman rank correlation between two per-row metrics: Pearson over
    * tie-averaged ranks, with ranks DOUBLED to stay integral (see
    * [[mannWhitney]]). Moments accumulate in DECIMAL(38,0) — exact, and
    * with 2x-ranks bounded by 2n the squared-rank products stay inside 38
    * digits to n ~ 1e8 rows (beyond that, sample or pre-bin — the guard
    * on valueRanks fires first anyway); rho is the single IEEE expression
    * `(n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2))` over
    * the exact sums. One row: (n, rho).
    *
    * Both rank tables come from [[graft.operators.Ranking.valueRanks]]
    * (ungrouped, raise-guarded): raw rows never pass through a global
    * window — each row re-acquires its rank by joining the distinct-value
    * rollup.
    */
  def spearman(df: DataFrame, xCol: Column, yCol: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    val base = df.filter(xCol.isNotNull && yCol.isNotNull)
      .select(xCol.as("x"), yCol.as("y"))
    def rank2x(vc: String): DataFrame =
      graft.operators.Ranking.valueRanks(base, Nil, col(vc), maxDistinct)
        .select(col("v").as(vc),
          (col("rnk") * 2L + col("n_rows") - 1L).as(s"${vc}r2"))
    val ranked = base
      .join(rank2x("x"), "x")
      .join(rank2x("y"), "y")
    ranked.agg(
      count(lit(1)).as("n"),
      sum(dec(col("xr2"))).as("sx"),
      sum(dec(col("yr2"))).as("sy"),
      sum(dec(col("xr2")) * dec(col("yr2"))).as("sxy"),
      sum(dec(col("xr2")) * dec(col("xr2"))).as("sxx"),
      sum(dec(col("yr2")) * dec(col("yr2"))).as("syy"))
      .select(col("n"),
        ((dec(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((dec(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((dec(col("n")) * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("rho"))
  }

  /** Gini concentration coefficient per group, in exact ppm. With values
    * sorted ascending and 1-based positions,
    * `G = (2*sum_i(i*x_i) - (n+1)*sum(x)) / (n*sum(x))`; a tied block of
    * `c` equal values `x` starting at min-rank `a` contributes
    * `x*(2*c*a + c*(c-1))` to the doubled position-weighted sum — which is
    * invariant to tie order, and exactly what the
    * [[graft.operators.Ranking.valueRanks]] rollup provides. Per-group
    * parallel over distinct values; raw rows are never globally sorted.
    * Values must be non-negative fixed-point (cents); groups with a zero
    * total emit NULL. G >= 0 by construction, so the ppm floor-division is
    * engine-agnostic.
    */
  def gini(df: DataFrame, groupCols: Seq[String], valueCol: Column): DataFrame = {
    val ranks = graft.operators.Ranking.valueRanks(df, groupCols, valueCol)
    ranks.groupBy(groupCols.map(col): _*)
      .agg(
        sum(col("n_rows")).as("n"),
        sum(dec(col("v")) * col("n_rows")).cast("long").as("total"),
        sum(dec(col("v")) * (dec(col("n_rows")) * col("rnk") * 2L +
          dec(col("n_rows")) * (col("n_rows") - 1L))).as("__two_s"))
      .withColumn("gini_ppm",
        when(col("total") > 0L,
          call_function("div",
            (col("__two_s") - dec(col("n") + 1L) * col("total")) * 1000000L,
            dec(col("n")) * col("total")).cast("long")))
      .drop("__two_s")
  }

  /** Herfindahl-Hirschman concentration index per group, in exact ppm:
    * `HHI = sum_i(s_i^2) / S^2` over member totals `s_i` — [[gini]]'s
    * antitrust-flavored sibling (Gini measures inequality of the
    * distribution, HHI how few members hold it; a 2-member 50/50 group is
    * perfectly equal yet highly concentrated). Sum-of-squares form needs
    * no ranking at all: one (group, member) rollup then one group rollup,
    * squares in DECIMAL(38,0), a single exact division at the end.
    * `n_members` counts members with a positive total; zero-total groups
    * emit NULL.
    */
  def hhi(df: DataFrame, groupCols: Seq[String], memberCol: Column,
      valueCol: Column): DataFrame = {
    val gcols = groupCols.map(col)
    val members = df.groupBy(gcols :+ memberCol.as("__m"): _*)
      .agg(sum(valueCol).as("__s"))
      .filter(col("__s") > 0L)
    members.groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_members"),
        sum(col("__s")).cast("long").as("total"),
        sum(dec(col("__s")) * col("__s")).as("__sq"))
      .withColumn("hhi_ppm",
        when(col("total") > 0L,
          call_function("div", col("__sq") * 1000000L,
            dec(col("total")) * col("total")).cast("long")))
      .drop("__sq")
  }

  /** Cohen's kappa inter-rater agreement between two label columns, with
    * exact integer operands: `N`, the diagonal count, and the marginal
    * product sum `S = sum_k(row_k * col_k)` (DECIMAL — S is O(N^2)).
    * `kappa = (N*diag - S) / (N^2 - S)` as one IEEE division (kappa can be
    * negative, and engines disagree on negative integer division — Spark
    * `div` truncates, DuckDB `//` floors — so the ppm convention stops at
    * the non-negative po/pe). One row: (n, po_ppm, pe_ppm, kappa).
    */
  def cohenKappa(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.filter(aCol.isNotNull && bCol.isNotNull)
      .groupBy(aCol.as("ra"), bCol.as("rb"))
      .agg(count(lit(1)).as("n_cell"))
      // pin: feeds both marginals AND the diag rollup (3 consumers = 3
      // raw-scan replays unpinned); label-domain-bounded, free
      .pinLazy()
    val rowT = cells.groupBy(col("ra")).agg(sum(col("n_cell")).as("row_t"))
    val colT = cells.groupBy(col("rb")).agg(sum(col("n_cell")).as("col_t"))
    // marginal product over the label domain (small by definition); labels
    // present on only one side contribute 0 and drop out of the inner join
    val prods = rowT.join(colT, rowT("ra") === colT("rb"))
      .agg(coalesce(sum(dec(col("row_t")) * col("col_t")),
        lit(0L).cast("decimal(38,0)")).as("s"))
    val diag = cells.agg(
      sum(col("n_cell")).as("n"),
      coalesce(sum(when(col("ra") === col("rb"), col("n_cell"))), lit(0L)).as("diag"))
    diag.crossJoin(broadcast(prods))
      .select(col("n"),
        call_function("div", dec(col("diag")) * lit(1000000L), dec(col("n")))
          .cast("long").as("po_ppm"),
        call_function("div", col("s") * lit(1000000L), dec(col("n")) * col("n"))
          .cast("long").as("pe_ppm"),
        ((dec(col("n")) * col("diag") - col("s")).cast("double") /
          (dec(col("n")) * col("n") - col("s")).cast("double")).as("kappa"))
  }

  /** Gwet's AC1 (first-order agreement coefficient, Gwet 2008) for two
    * raters — the kappa-paradox-resistant companion to [[cohenKappa]]:
    * when one category dominates, kappa's marginal-product chance
    * correction explodes (99% raw agreement can read kappa ~ 0); AC1's
    * chance term `pe = sum_c pi_c(1 - pi_c) / (K-1)` with
    * `pi_c = (row_c + col_c) / 2n` stays calibrated. Entirely rational:
    * clearing to the common denominator `D = 4n^2(K-1)` gives
    * `ac1_ppm = 1e6 * (diag*D - n*pe_num) div (n*(D - pe_num))` with
    * `pe_num = (K-1)... cleared as sum_c (row_c+col_c)(2n-row_c-col_c)`
    * — exact DECIMAL products, ONE sign-wrapped truncating division
    * (AC1 can be negative). K = 1 (a single observed category) -> NULL
    * (chance agreement is total; the coefficient is undefined).
    * Shape identical to cohenKappa: cell rollup, marginal rollups,
    * 1-row aggregates.
    */
  def gwetAc1(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.filter(aCol.isNotNull && bCol.isNotNull)
      .groupBy(aCol.as("ra"), bCol.as("rb"))
      .agg(count(lit(1)).as("n_cell"))
      .pinLazy() // feeds both marginals and the diag rollup
    val rowT = cells.groupBy(col("ra").as("cat")).agg(sum(col("n_cell")).as("row_t"))
    val colT = cells.groupBy(col("rb").as("cat")).agg(sum(col("n_cell")).as("col_t"))
    val marg = rowT.join(colT, Seq("cat"), "full_outer")
      .select(col("cat"),
        (coalesce(col("row_t"), lit(0L)) + coalesce(col("col_t"), lit(0L)))
          .as("m"))
    val diag = cells.agg(
      sum(col("n_cell")).as("n"),
      coalesce(sum(when(col("ra") === col("rb"), col("n_cell"))), lit(0L))
        .as("diag"))
    val pe = marg.crossJoin(broadcast(diag.select(col("n"))))
      .agg(count(lit(1)).as("k"),
        coalesce(sum(dec(col("m")) * (col("n") * 2L - col("m"))),
          lit(0L).cast("decimal(38,0)")).as("pe_num"))
    val num = dec(col("diag")) * col("__d") - dec(col("n")) * col("pe_num")
    val den = dec(col("n")) * (col("__d") - col("pe_num"))
    diag.crossJoin(broadcast(pe))
      .withColumn("__d",
        dec(col("n")) * col("n") * 4L * (col("k") - 1L))
      .select(col("n"), col("k").as("n_categories"),
        when(col("k") > 1L,
          (signum(num) * signum(den)).cast("long") *
            call_function("div", abs(num) * 1000000L,
              nullif(abs(den), dec(lit(0)))).cast("long"))
          .as("ac1_ppm"))
  }

  /** Youden's J optimal operating point over a score column — the
    * threshold-selection step after [[aucPpm]] says the ranking is good:
    * for every candidate cut v (predict positive when score > v),
    * `J = TPR - FPR`, maximized. Exact: TPR/FPR are each one
    * non-negative truncating ppm division over cumulative counts from
    * the distinct-score rollup, J their SUBTRACTION (never a negative
    * division); argmax resolves by a two-stage rollup with ties to the
    * smallest threshold (deterministic where arg_max is not). The
    * degenerate one-class input emits no row. Same scale contract as
    * [[graft.operators.Features.giniSplitScreen]]: the cut-search
    * window is single-partition over DISTINCT scores, `maxDistinct`
    * raise, bin continuous scores first.
    */
  def youdenThreshold(df: DataFrame, scoreCol: Column, labelCol: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    require(maxDistinct >= 1, s"maxDistinct: $maxDistinct")
    val counts = df.filter(scoreCol.isNotNull && labelCol.isNotNull)
      .groupBy(scoreCol.cast("long").as("v"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(labelCol, 1L).otherwise(0L)).as("pos"))
    val w = Window.orderBy(col("v").asc)
    val guard = when(row_number().over(w) > maxDistinct,
      raise_error(lit(s"youdenThreshold exceeded $maxDistinct distinct " +
        "scores - bin the score to fixed-point first")).cast("long"))
      .otherwise(lit(0L))
    val cum = counts
      .withColumn("nl", sum(col("cnt")).over(w) + guard)
      .withColumn("pl", sum(col("pos")).over(w))
      // pin: feeds tot AND cand — without it the raw scan replays per
      // consumer; the frame is distinct-score-bounded (free checkpoint)
      .pinLazy()
    val tot = cum.agg(max(col("nl")).as("n"), max(col("pl")).as("n_pos"))
    val cand = cum.crossJoin(broadcast(tot))
      .filter(col("n_pos") > 0L && col("n") > col("n_pos"))
      .withColumn("tpr_ppm",
        call_function("div", (col("n_pos") - col("pl")) * 1000000L,
          col("n_pos")))
      .withColumn("fpr_ppm",
        call_function("div",
          ((col("n") - col("nl")) - (col("n_pos") - col("pl"))) * 1000000L,
          col("n") - col("n_pos")))
      .withColumn("j_ppm", col("tpr_ppm") - col("fpr_ppm"))
      .pinLazy() // feeds the max rollup AND the argmax pick
    val best = cand.agg(max(col("j_ppm")).as("best_j_ppm"))
    val bestV = cand.crossJoin(broadcast(best))
      .filter(col("j_ppm") === col("best_j_ppm"))
      .groupBy(col("best_j_ppm")).agg(min(col("v")).as("best_threshold"))
    cand.join(broadcast(bestV),
        cand("v") === bestV("best_threshold") &&
          cand("j_ppm") === bestV("best_j_ppm"))
      .select(col("n"), col("n_pos"), col("best_threshold"),
        col("tpr_ppm"), col("fpr_ppm"), col("best_j_ppm"))
  }

  /** Split-conformal prediction intervals per group: a per-group point
    * prediction (here the calibration mean in milli-units) plus the
    * empirical `(1-alpha)` quantile of calibration-set absolute residuals
    * — the distribution-free interval with finite-sample coverage
    * guarantees (Vovk et al.; the standard ML-serving wrapper). The
    * calibration/evaluation split is the caller's deterministic predicate
    * (the q89/q267 hash-split discipline). Everything is exact: residuals
    * are integer milli, the quantile is percentile_disc at the conformal
    * rank `ceil((n_cal+1)*(1-alpha))` clamped to n_cal, and coverage on
    * the evaluation rows is reported in exact ppm (the audit: it should
    * be ~>= 1-alpha).
    *
    * Shape: ONE raw scan into a (group, cal, value) register rollup,
    * pinned — the calibration mean, the residual distribution (a
    * |v - center| re-keying of the calibration registers), the conformal
    * rank cut AND the eval-side coverage all derive from it (plan-audit
    * r12: center, residual ranks and the eval join each re-read raw
    * before — 4 scans, now 1). Value-domain bounded throughout.
    */
  def conformalInterval(df: DataFrame, groupCols: Seq[String],
      valueMilli: Column, inCalibration: Column,
      alphaPct: Int): DataFrame = {
    require(alphaPct >= 1 && alphaPct <= 50, s"alphaPct: $alphaPct")
    require(groupCols.nonEmpty, "conformalInterval needs group columns")
    val gcols = groupCols.map(col)
    val rr = df.filter(valueMilli.isNotNull)
      .select(gcols :+ valueMilli.cast("long").as("__v") :+
        inCalibration.as("__cal"): _*)
      .groupBy(gcols :+ col("__cal") :+ col("__v"): _*)
      .agg(count(lit(1)).as("__n"))
      .pinLazy() // feeds center, residual cut, and coverage
    val calR = rr.filter(col("__cal"))
    // same integers as the raw-row form: sum(v) = sum(v*n), count = sum(n)
    val center = calR.groupBy(gcols: _*)
      .agg(call_function("div",
        sum(col("__v") * col("__n")), sum(col("__n"))).as("center_milli"),
        sum(col("__n")).as("n_cal"))
    val residR = calR.join(broadcast(center), groupCols)
      .select(gcols :+ abs(col("__v") - col("center_milli")).as("__r")
        :+ col("__n"): _*)
      .groupBy(gcols :+ col("__r"): _*)
      .agg(sum(col("__n")).as("__n"))
    // conformal rank over the residual rollup: smallest residual whose
    // cumulative count reaches ceil((n+1)*(1-alpha)) — clamped at n
    // (cum cut == the old valueRanks rank-range filter: target <= cum
    // and target > cum - n)
    val byR = Window.partitionBy(gcols: _*).orderBy(col("__r").asc)
    val q = residR
      .withColumn("__cum", sum(col("__n")).over(byR))
      .join(broadcast(center.select(gcols :+ col("n_cal"): _*)), groupCols)
      .withColumn("__target",
        least(col("n_cal"),
          call_function("div",
            (col("n_cal") + 1L) * (100L - alphaPct) + 99L, lit(100L))))
      .filter(col("__cum") >= col("__target") &&
        col("__cum") - col("__n") < col("__target"))
      .groupBy(gcols: _*).agg(min(col("__r")).as("q_milli"))
    val iv = center.join(q, groupCols)
    rr.filter(!col("__cal"))
      .join(broadcast(iv), groupCols)
      .groupBy(gcols: _*)
      .agg(max(col("center_milli")).as("center_milli"),
        max(col("q_milli")).as("q_milli"),
        max(col("n_cal")).as("n_cal"),
        sum(col("__n")).as("n_eval"),
        sum(when(abs(col("__v") - col("center_milli")) <= col("q_milli"),
          col("__n")).otherwise(0L)).as("n_covered"))
      .withColumn("coverage_ppm",
        call_function("div", col("n_covered") * 1000000L, col("n_eval")))
  }

  /** CUPED variance reduction (Deng et al. 2013) for a two-group
    * experiment readout: the post-period metric `y` is adjusted by the
    * pre-period covariate `x` with the pooled
    * `theta = cov(x, y) / var(x)`, shrinking variance by the squared
    * correlation without biasing the diff (theta is computed on the
    * POOLED sample, the standard practice). Moments are exact DECIMAL
    * sums; theta, the adjusted means, and the adjusted diff are the only
    * IEEE steps (fixed expression trees over exact operands — the q229
    * convention). One row: per-group adjusted means, the raw and
    * adjusted diffs, and theta.
    */
  def cupedDiff(df: DataFrame, xCol: Column, yCol: Column,
      inB: Column): DataFrame = {
    val base = df.filter(xCol.isNotNull && yCol.isNotNull)
      .select(xCol.cast("long").as("x"), yCol.cast("long").as("y"),
        inB.as("grp"))
    val m = base.agg(
      count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("x")) * col("y")).as("sxy"),
      sum(when(!col("grp"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("grp"), dec(col("y")))).as("sya"),
      sum(when(!col("grp"), dec(col("x")))).as("sxa"),
      sum(when(col("grp"), 1L).otherwise(0L)).as("n_b"),
      sum(when(col("grp"), dec(col("y")))).as("syb"),
      sum(when(col("grp"), dec(col("x")))).as("sxb"))
    val theta = (dec(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
      (dec(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double")
    val xbar = col("sx").cast("double") / col("n").cast("double")
    def meanAdj(sy: Column, sx: Column, n: Column) =
      sy.cast("double") / n.cast("double") -
        col("theta") * (sx.cast("double") / n.cast("double") - col("xbar"))
    m.withColumn("theta", theta)
      .withColumn("xbar", xbar)
      .withColumn("adj_mean_a", meanAdj(col("sya"), col("sxa"), col("n_a")))
      .withColumn("adj_mean_b", meanAdj(col("syb"), col("sxb"), col("n_b")))
      .select(col("n_a"), col("n_b"), col("theta"),
        (col("syb").cast("double") / col("n_b").cast("double") -
          col("sya").cast("double") / col("n_a").cast("double")).as("raw_diff"),
        col("adj_mean_a"), col("adj_mean_b"),
        (col("adj_mean_b") - col("adj_mean_a")).as("adj_diff"))
  }

  /** Exact ROC-AUC in ppm via the Mann-Whitney identity
    * `AUC = U_pos / (n_pos * n_neg)` — ties counted half, which is
    * exactly what the doubled-rank `u2` gives:
    * `auc_ppm = u2_pos * 1e6 div (2 * n_pos * n_neg)`. Rides the same
    * guarded distinct-SCORE rollup as [[mannWhitney]], so a 100 TB score
    * column evaluates through one partial-agg shuffle + a bounded window
    * (bin continuous scores to fixed-point first — which classifier
    * scores should be anyway). One row: (n_neg, n_pos, auc_ppm).
    */
  def aucPpm(df: DataFrame, scoreCol: Column, labelCol: Column,
      maxDistinct: Long = 2000000L): DataFrame =
    mannWhitney(df, scoreCol, labelCol, maxDistinct)
      .select(col("n_a").as("n_neg"), col("n_b").as("n_pos"),
        call_function("div",
          (lit(2L) * dec(col("n_a")) * col("n_b") - col("u2_a")) * 1000000L,
          lit(2L) * dec(col("n_a")) * col("n_b")).cast("long").as("auc_ppm"))

  /** Reliability (calibration) table + Brier score for integer-milli
    * predicted probabilities: per probability bucket, predicted vs
    * empirical rate in exact ppm; the one-row Brier in exact micro units
    * rides the same rollup (`sum((p_milli - y*1000)^2) div n` — the mean
    * squared gap between claimed probability and outcome). The
    * well-calibrated diagonal is the audit every probabilistic labeler
    * (kNN votes, smoothed rates, LM confidences) owes its consumers.
    */
  def reliability(df: DataFrame, probMilliCol: Column,
      labelCol: Column): DataFrame = {
    val base = df.filter(probMilliCol.isNotNull && labelCol.isNotNull)
      .select(probMilliCol.cast("long").as("__p"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
    base.groupBy(call_function("div", col("__p"), lit(100L)).as("bucket"))
      .agg(count(lit(1)).as("n"),
        call_function("div", sum(col("__p")) * 1000L, count(lit(1)))
          .as("mean_pred_ppm"),
        call_function("div", sum(col("__y")) * 1000000L, count(lit(1)))
          .as("empirical_ppm"),
        sum((col("__p") - col("__y") * 1000L) * (col("__p") - col("__y") * 1000L))
          .as("__sq"))
      .withColumn("brier_bucket_micro",
        call_function("div", col("__sq"), col("n")))
      .drop("__sq")
  }

  /** Expected calibration error (Naeini 2015's ECE; Guo 2017's standard
    * form) over the same milli-probability buckets as [[reliability]]:
    * `ECE = sum_b (n_b/N) |acc_b - conf_b|`, which collapses to ONE exact
    * division — per bucket `|c_b*1e6 - 1000*sum(p_milli)|` is an integer
    * (n_b cancels), so `ece_ppm = sum_b |...| div N`. Also the maximum
    * calibration error `mce_ppm = max_b |...| div n_b` (its per-bucket
    * division is unavoidable; still exact). [[reliability]] shows WHERE
    * the curve bends; this is the single number a model gate thresholds.
    *
    * Shape: one bucket rollup, one bounded (<= 11-bucket) agg.
    */
  def ece(df: DataFrame, probMilliCol: Column, labelCol: Column): DataFrame = {
    val base = df.filter(probMilliCol.isNotNull && labelCol.isNotNull)
      .select(probMilliCol.cast("long").as("__p"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
    base.groupBy(call_function("div", col("__p"), lit(100L)).as("__b"))
      .agg(count(lit(1)).as("__n"),
        abs(sum(col("__y")) * 1000000L - sum(col("__p")) * 1000L).as("__gap"))
      .agg(coalesce(sum(col("__n")), lit(0L)).as("n"),
        count(lit(1)).as("n_buckets"),
        sum(col("__gap")).as("__g"),
        max(call_function("div", col("__gap"), col("__n"))).as("mce_ppm"))
      .select(col("n"), col("n_buckets"),
        when(col("n") > 0L, call_function("div", col("__g"), col("n")))
          .as("ece_ppm"),
        col("mce_ppm"))
  }

  /** Multi-class classifier evaluation: per class the one-vs-rest
    * confusion counts and precision / recall / F1 in exact ppm (F1
    * collapses to the single division `2*tp*1e6 div (2*tp + fp + fn)` —
    * no harmonic-mean float chain), plus the `__macro` row (unweighted
    * mean of per-class metrics, absent classes scoring 0 — the
    * scikit-learn `zero_division=0` convention) and the `__micro` row
    * (global counts; micro-F1 == accuracy for single-label problems).
    * The standard eval for [[graft.pipeline.Similarity.knnClassify]]
    * weak labels or any (predicted, true) pair relation.
    *
    * Shape: one (true, predicted) confusion rollup — class-vocabulary
    * sized — then everything is arithmetic over that tiny relation.
    */
  def classifierEval(df: DataFrame, predictedCol: Column,
      trueCol: Column): DataFrame = {
    val base = df.filter(predictedCol.isNotNull && trueCol.isNotNull)
      .select(predictedCol.cast("long").as("__p"),
        trueCol.cast("long").as("__t"))
      .groupBy(col("__p"), col("__t")).agg(count(lit(1)).as("__n"))
      .pinLazy() // class-vocab sized; feeds three rollups
    val classes = base.select(col("__p").as("cls"))
      .unionByName(base.select(col("__t").as("cls"))).distinct()
    val tp = base.filter(col("__p") === col("__t"))
      .select(col("__p").as("cls"), col("__n").as("tp"))
    val predTot = base.groupBy(col("__p").as("cls"))
      .agg(sum(col("__n")).as("__pred"))
    val trueTot = base.groupBy(col("__t").as("cls"))
      .agg(sum(col("__n")).as("__true"))
    val perClass = classes
      .join(tp, Seq("cls"), "left")
      .join(predTot, Seq("cls"), "left")
      .join(trueTot, Seq("cls"), "left")
      .select(col("cls").cast("string").as("label"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("__pred"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("__true"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fn"))
      .withColumn("precision_ppm",
        when(col("tp") + col("fp") > 0L, call_function("div",
          col("tp") * 1000000L, col("tp") + col("fp"))))
      .withColumn("recall_ppm",
        when(col("tp") + col("fn") > 0L, call_function("div",
          col("tp") * 1000000L, col("tp") + col("fn"))))
      .withColumn("f1_ppm",
        when(col("tp") * 2L + col("fp") + col("fn") > 0L,
          call_function("div", col("tp") * 2000000L,
            col("tp") * 2L + col("fp") + col("fn"))))
      .pinLazy() // feeds the output union AND the macro agg
    val macroRow = perClass.agg(
        count(lit(1)).as("__k"),
        sum(col("tp")).as("tp"), sum(col("fp")).as("fp"),
        sum(col("fn")).as("fn"),
        sum(coalesce(col("precision_ppm"), lit(0L))).as("__sp"),
        sum(coalesce(col("recall_ppm"), lit(0L))).as("__sr"),
        sum(coalesce(col("f1_ppm"), lit(0L))).as("__sf"))
      .select(lit("__macro").as("label"), col("tp"), col("fp"), col("fn"),
        call_function("div", col("__sp"), col("__k")).as("precision_ppm"),
        call_function("div", col("__sr"), col("__k")).as("recall_ppm"),
        call_function("div", col("__sf"), col("__k")).as("f1_ppm"))
    val microRow = perClass.agg(
        sum(col("tp")).as("tp"), sum(col("fp")).as("fp"),
        sum(col("fn")).as("fn"))
      .select(lit("__micro").as("label"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0L, call_function("div",
          col("tp") * 1000000L, col("tp") + col("fp"))).as("precision_ppm"),
        when(col("tp") + col("fn") > 0L, call_function("div",
          col("tp") * 1000000L, col("tp") + col("fn"))).as("recall_ppm"),
        when(col("tp") * 2L + col("fp") + col("fn") > 0L,
          call_function("div", col("tp") * 2000000L,
            col("tp") * 2L + col("fp") + col("fn"))).as("f1_ppm"))
    perClass.unionByName(macroRow).unionByName(microRow)
  }

  /** Isotonic calibration over the [[reliability]] buckets, WITHOUT a
    * sequential pool-adjacent-violators pass: the L2 isotonic fit has
    * the closed minimax form `fit_i = max_{j<=i} min_{k>=i} avg(j..k)`
    * (Ayer et al. 1955; Robertson/Wright/Dykstra 1988, eq. 1.9-1.13),
    * and with a BOUNDED bucket count (<= 11 milli-probability deciles)
    * the O(B^2) range table is a handful of rows — so the whole fit is
    * three tiny joins/rollups, declarative and engine-exact (each range
    * average is ONE non-negative truncating ppm division; the minimax
    * then only compares those integers). The result is the
    * non-decreasing calibrated rate per bucket — what you'd deploy as a
    * monotone calibration map when raw reliability zig-zags from noise.
    *
    * Shape: one bucket rollup over raw rows, then everything is
    * B-bounded (ranges via a bucket-to-bucket join, prefix sums by
    * range containment) — nothing scales past the first rollup.
    */
  def isotonicCalibrate(df: DataFrame, probMilliCol: Column,
      labelCol: Column, widthMilli: Int = 100): DataFrame = {
    require(widthMilli >= 1 && widthMilli <= 1000, s"widthMilli: $widthMilli")
    val base = df.filter(probMilliCol.isNotNull && labelCol.isNotNull)
      .select(probMilliCol.cast("long").as("__p"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
    val buckets = base
      .groupBy(call_function("div", col("__p"), lit(widthMilli.toLong))
        .as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("c"))
      .withColumn("raw_ppm",
        call_function("div", col("c") * 1000000L, col("n")))
      .pinLazy() // B rows; feeds ranges and the output join
    val b2 = buckets.select(col("bucket").as("__j"))
      .crossJoin(buckets.select(col("bucket").as("__k")))
      .filter(col("__j") <= col("__k"))
    val ranges = b2
      .join(buckets.select(col("bucket"), col("n"), col("c")),
        col("bucket") >= col("__j") && col("bucket") <= col("__k"))
      .groupBy(col("__j"), col("__k"))
      .agg(call_function("div", sum(col("c")) * 1000000L, sum(col("n")))
        .as("__avg"))
    val fit = buckets.select(col("bucket"))
      .join(ranges, col("__j") <= col("bucket") && col("__k") >= col("bucket"))
      .groupBy(col("bucket"), col("__j")).agg(min(col("__avg")).as("__mn"))
      .groupBy(col("bucket")).agg(max(col("__mn")).as("calibrated_ppm"))
    buckets.join(fit, Seq("bucket"))
      .select(col("bucket"), col("n"), col("c"), col("raw_ppm"),
        col("calibrated_ppm"))
  }

  /** Murphy (1973) decomposition of the Brier score over the
    * [[reliability]] buckets:
    * `Brier = REL - RES + UNC + within-bin variance` — reliability (how
    * far claimed probabilities sit from realized rates — the part
    * calibration can fix), resolution (how much the buckets separate
    * outcomes — the part only a better model can raise), and the
    * outcome-base-rate uncertainty floor. All micro units with ONE
    * declared truncating division per term ([[ece]] conventions); the
    * identity's gap — within-bin forecast variance plus truncation — is
    * emitted as `residual_micro`, visible rather than re-scaled away.
    *
    * One bucket rollup, one bounded agg.
    */
  def brierDecomposition(df: DataFrame, probMilliCol: Column,
      labelCol: Column): DataFrame = {
    val base = df.filter(probMilliCol.isNotNull && labelCol.isNotNull)
      .select(probMilliCol.cast("long").as("__p"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
    val buckets = base
      .groupBy(call_function("div", col("__p"), lit(100L)).as("__b"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__c"),
        sum(col("__p")).as("__s"),
        sum((col("__p") - col("__y") * 1000L) *
          (col("__p") - col("__y") * 1000L)).as("__sq"))
      .pinLazy() // feeds the totals agg and the term pass
    val tot = buckets.agg(
      coalesce(sum(col("__n")), lit(0L)).as("n"),
      coalesce(sum(col("__c")), lit(0L)).as("__ct"),
      coalesce(sum(col("__sq")), lit(0L)).as("__sqt"))
    val agg = buckets.crossJoin(broadcast(tot)).agg(
      first(col("n")).as("n"), first(col("__ct")).as("__ct"),
      first(col("__sqt")).as("__sqt"),
      coalesce(sum(call_function("div",
        (col("__s") - col("__c") * 1000L) *
          (col("__s") - col("__c") * 1000L), col("__n"))), lit(0L))
        .as("__rel_n"),
      coalesce(sum(call_function("div",
        dec(col("__c") * col("n") - col("__ct") * col("__n")) *
          dec(col("__c") * col("n") - col("__ct") * col("__n")) *
          dec(lit(1000000L)),
        dec(col("__n")))), dec(lit(0L))).as("__res_n"))
    agg
      .withColumn("brier_micro",
        when(col("n") > 0L, call_function("div", col("__sqt"), col("n"))))
      .withColumn("reliability_micro",
        when(col("n") > 0L, call_function("div", col("__rel_n"), col("n"))))
      .withColumn("resolution_micro",
        when(col("n") > 0L, call_function("div", col("__res_n"),
          dec(col("n")) * dec(col("n")) * dec(col("n"))).cast("long")))
      .withColumn("uncertainty_micro",
        when(col("n") > 0L, call_function("div",
          dec(col("__ct")) * dec(col("n") - col("__ct")) *
            dec(lit(1000000L)),
          dec(col("n")) * dec(col("n"))).cast("long")))
      .withColumn("residual_micro",
        col("brier_micro") - (col("reliability_micro") -
          col("resolution_micro") + col("uncertainty_micro")))
      .select(col("n"), col("brier_micro"), col("reliability_micro"),
        col("resolution_micro"), col("uncertainty_micro"),
        col("residual_micro"))
  }

  /** Cumulative gains table over score deciles: rank rows by a model
    * score (descending — decile 1 is the model's best), report per decile
    * the cumulative share of all positives captured, in exact ppm — the
    * "how deep must the campaign dial to reach X% of responders" readout,
    * with lift = gain relative to the random diagonal. Deciles come from
    * the [[graft.operators.Ranking.valueRanks]] rollup (never a raw-row
    * ntile): a row's decile is `(10 * (rnk_desc - 1)) div n + 1` computed
    * from the per-distinct-score rank, ties sharing one decile boundary
    * decision deterministically.
    */
  def gainsTable(df: DataFrame, scoreCol: Column, labelCol: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    val base = df.filter(scoreCol.isNotNull && labelCol.isNotNull)
      .select(scoreCol.as("__s"), when(labelCol, 1L).otherwise(0L).as("__y"))
    // per distinct score: counts + positives; rank DESC = rank over -score
    val rolled = base.groupBy(col("__s"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__pos"))
    val byVal = Window.orderBy(col("__s").desc)
    val guard = when(row_number().over(byVal) > maxDistinct,
      raise_error(lit(s"gainsTable exceeded $maxDistinct distinct scores — " +
        "bin the score to fixed-point first")).cast("long")).otherwise(lit(0L))
    val cum = rolled
      .withColumn("__cum", sum(col("__n")).over(byVal) + guard)
      .withColumn("__rnk", col("__cum") - col("__n") + 1L)
    val totals = cum.agg(max(col("__cum")).as("__tot"),
      sum(col("__pos")).as("__totpos"))
    cum.crossJoin(broadcast(totals))
      .withColumn("decile",
        (call_function("div", lit(10L) * (col("__rnk") - 1L), col("__tot")) + 1L))
      .groupBy(col("decile"))
      .agg(sum(col("__n")).as("n"), sum(col("__pos")).as("n_pos"),
        max(col("__totpos")).as("__tp"))
      .withColumn("__cumpos", sum(col("n_pos")).over(
        Window.orderBy(col("decile").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_gain_ppm",
        when(col("__tp") > 0L,
          call_function("div", col("__cumpos") * 1000000L, col("__tp"))))
      .drop("__tp", "__cumpos")
  }

  /** Difference-in-differences readout: the 2x2 (treated, post) milli-mean
    * table and `DiD = (T_post - T_pre) - (C_post - C_pre)` — the causal
    * estimate when treatment lands at a known time and the control trend
    * is the counterfactual. All four means are exact truncated
    * milli-integers (`sum*1000 div n`, non-negative metrics), so the DiD
    * is plain integer arithmetic any engine reproduces. One row.
    */
  def diffInDiff(df: DataFrame, valueCol: Column, treated: Column,
      post: Column): DataFrame = {
    val base = df.filter(valueCol.isNotNull)
      .select(valueCol.cast("long").as("__v"), treated.as("__t"), post.as("__p"))
    def cell(t: Boolean, p: Boolean) = {
      val m = (if (t) col("__t") else !col("__t")) &&
        (if (p) col("__p") else !col("__p"))
      call_function("div",
        sum(when(m, col("__v")).otherwise(0L)) * 1000L,
        nullif(sum(when(m, 1L).otherwise(0L)), lit(0L)))
    }
    base.agg(
      cell(t = false, p = false).as("c_pre_milli"),
      cell(t = false, p = true).as("c_post_milli"),
      cell(t = true, p = false).as("t_pre_milli"),
      cell(t = true, p = true).as("t_post_milli"))
      .withColumn("did_milli",
        (col("t_post_milli") - col("t_pre_milli")) -
          (col("c_post_milli") - col("c_pre_milli")))
  }

  /** Standard-normal quantiles in micro units for the classic power
    * settings — FIXED public constants (the Benford/Poisson discipline):
    * z(97.5%) and z(80%).
    */
  val Z975Micro = 1959964L
  val Z80Micro = 841621L

  /** Minimum detectable effect per group at 80% power / 5% two-sided
    * alpha: `MDE = (z_{a/2} + z_b) * sqrt(2 * var / n)` with the sample
    * variance from exact DECIMAL moments
    * (`var = (n*Sxx - Sx^2) / (n*(n-1))`) and the z sum a fixed micro
    * literal — the "how big must the lift be before this experiment can
    * see it" planning table. One IEEE expression per group.
    */
  def minDetectableEffect(df: DataFrame, groupCols: Seq[String],
      valueCol: Column): DataFrame = {
    val gcols = groupCols.map(col)
    val zSum = (Z975Micro + Z80Micro).toDouble / 1e6
    df.filter(valueCol.isNotNull)
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n"),
        sum(dec(valueCol.cast("long"))).as("__sx"),
        sum(dec(valueCol.cast("long")) * valueCol.cast("long")).as("__sxx"))
      .filter(col("n") > 1L)
      .withColumn("variance",
        (dec(col("n")) * col("__sxx") - col("__sx") * col("__sx")).cast("double") /
          (dec(col("n")) * (col("n") - 1L)).cast("double"))
      .withColumn("mde",
        lit(zSum) * sqrt(lit(2.0) * col("variance") / col("n").cast("double")))
      .drop("__sx", "__sxx")
  }

  /** Uplift (incrementality) readout per segment: treated-vs-control
    * conversion rates with [[smoothedRates]]' pseudo-count smoothing per
    * arm, the smoothed uplift in exact ppm, and the two-proportion z over
    * RAW counts (one IEEE expression; smoothing steadies the point
    * estimate, inference stays on the data). The question a campaign
    * readout answers per segment: where did treatment actually CAUSE
    * conversions.
    */
  def upliftBySegment(df: DataFrame, segmentCols: Seq[String],
      treated: Column, converted: Column,
      priorA: Long, priorB: Long): DataFrame = {
    require(segmentCols.nonEmpty, "upliftBySegment needs segment columns")
    require(priorA >= 0 && priorB >= 0 && priorA + priorB >= 1,
      s"priors: a=$priorA b=$priorB")
    val gcols = segmentCols.map(col)
    val agg = df.groupBy(gcols: _*).agg(
      sum(when(treated, 1L).otherwise(0L)).as("n_t"),
      sum(when(treated && converted, 1L).otherwise(0L)).as("conv_t"),
      sum(when(!treated, 1L).otherwise(0L)).as("n_c"),
      sum(when(!treated && converted, 1L).otherwise(0L)).as("conv_c"))
    val sm = (s: Column, n: Column) =>
      call_function("div", (s + priorA) * 1000000L, n + priorA + priorB)
    val p = (col("conv_t") + col("conv_c")).cast("double") /
      (col("n_t") + col("n_c")).cast("double")
    agg
      .filter(col("n_t") > 0L && col("n_c") > 0L)
      .withColumn("rate_t_ppm", sm(col("conv_t"), col("n_t")))
      .withColumn("rate_c_ppm", sm(col("conv_c"), col("n_c")))
      .withColumn("uplift_ppm", col("rate_t_ppm") - col("rate_c_ppm"))
      // degenerate pools (nobody or EVERYBODY converts) have zero pooled
      // variance — no defined z, not a divide-by-zero abort
      .withColumn("z",
        when(col("conv_t") + col("conv_c") > 0L &&
          col("conv_t") + col("conv_c") < col("n_t") + col("n_c"),
          (col("conv_t").cast("double") / col("n_t").cast("double") -
            col("conv_c").cast("double") / col("n_c").cast("double")) /
            sqrt(p * (lit(1.0) - p) *
              (lit(1.0) / col("n_t").cast("double") +
                lit(1.0) / col("n_c").cast("double")))))
  }

  /** Group-sequential interim analysis: the cumulative two-sample Welch z
    * at each look, judged against caller-supplied spending boundaries
    * (micro units — O'Brien-Fleming's canonical K=4 two-sided 5% set is
    * `Seq(4049000L, 2863000L, 2337000L, 2024000L)`, fixed public
    * constants like the Benford table). Peeking at a flat 1.96 every week
    * is how experimentation programs manufacture false positives; the
    * boundary schedule is what makes early looks legitimate.
    *
    * `lookCol` is the 1-based look index a row belongs to (e.g. its week
    * number); look k's statistic uses ALL rows with lookCol <= k —
    * cumulative moments come from a window over the per-look rollup
    * (<= K rows). Moments are exact DECIMAL; z is one IEEE expression
    * (`diff / sqrt(var_a/n_a + var_b/n_b)`, sample variances). Output per
    * look: cumulative n per arm, z, the boundary, crossed.
    */
  def sequentialZ(df: DataFrame, lookCol: Column, valueCol: Column,
      inB: Column, boundariesMicro: Seq[Long]): DataFrame = {
    require(boundariesMicro.nonEmpty, "sequentialZ needs boundaries")
    val k = boundariesMicro.size
    val base = df.filter(valueCol.isNotNull &&
      lookCol.isNotNull && lookCol.cast("long") >= 1L &&
      lookCol.cast("long") <= k)
      .select(lookCol.cast("long").as("look"),
        valueCol.cast("long").as("__v"), inB.as("__g"))
    val perLook = base.groupBy(col("look")).agg(
      sum(when(!col("__g"), 1L).otherwise(0L)).as("na"),
      sum(when(!col("__g"), dec(col("__v")))).as("sa"),
      sum(when(!col("__g"), dec(col("__v")) * col("__v"))).as("saa"),
      sum(when(col("__g"), 1L).otherwise(0L)).as("nb"),
      sum(when(col("__g"), dec(col("__v")))).as("sb"),
      sum(when(col("__g"), dec(col("__v")) * col("__v"))).as("sbb"))
    val w = Window.orderBy(col("look").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val zero = lit(0L).cast("decimal(38,0)")
    val cum = perLook
      .withColumn("n_a", sum(col("na")).over(w))
      .withColumn("n_b", sum(col("nb")).over(w))
      .withColumn("csa", sum(coalesce(col("sa"), zero)).over(w))
      .withColumn("csaa", sum(coalesce(col("saa"), zero)).over(w))
      .withColumn("csb", sum(coalesce(col("sb"), zero)).over(w))
      .withColumn("csbb", sum(coalesce(col("sbb"), zero)).over(w))
    val bCol = boundariesMicro.zipWithIndex.foldLeft(lit(null).cast("long")) {
      case (acc, (b, i)) => when(col("look") === (i + 1).toLong, lit(b)).otherwise(acc)
    }
    def meanVar(n: Column, s: Column, ss: Column): (Column, Column) = {
      val mean = s.cast("double") / n.cast("double")
      val v = (dec(n) * ss - s * s).cast("double") /
        (dec(n) * (n - 1L)).cast("double")
      (mean, v)
    }
    val (ma, va) = meanVar(col("n_a"), col("csa"), col("csaa"))
    val (mb, vb) = meanVar(col("n_b"), col("csb"), col("csbb"))
    cum.filter(col("n_a") > 1L && col("n_b") > 1L)
      .withColumn("z", (mb - ma) /
        sqrt(va / col("n_a").cast("double") + vb / col("n_b").cast("double")))
      .withColumn("boundary_micro", bCol)
      .withColumn("crossed",
        abs(col("z")) * 1000000.0 > col("boundary_micro").cast("double"))
      .select(col("look"), col("n_a"), col("n_b"), col("z"),
        col("boundary_micro"), col("crossed"))
  }

  /** Empirical-Bayes (beta-binomial) smoothed success rates per group:
    * `rate = (s + a) / (n + a + b)` with integer pseudo-count priors —
    * the standard fix for small-segment rate rankings (a 1/1 segment
    * should not outrank a 900/1000 one). Exact integer ppm via one
    * division; prior strength is the caller's declared model, typically
    * anchored at the global rate. One rollup.
    */
  def smoothedRates(df: DataFrame, groupCols: Seq[String], success: Column,
      priorA: Long, priorB: Long): DataFrame = {
    require(priorA >= 0 && priorB >= 0 && priorA + priorB >= 1,
      s"priors: a=$priorA b=$priorB")
    val gcols = groupCols.map(col)
    df.groupBy(gcols: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("successes"))
      .withColumn("raw_ppm",
        call_function("div", col("successes") * 1000000L, col("n")))
      .withColumn("smoothed_ppm",
        call_function("div", (col("successes") + priorA) * 1000000L,
          col("n") + priorA + priorB))
  }

  /** [[smoothedRates]] with the prior LEARNED from the data by method of
    * moments (Efron & Morris's empirical-Bayes program for the
    * beta-binomial): the prior mean is the unweighted mean of group rates
    * `m = sum(p_g) div G`, the prior strength is
    * `K = m*(1e6 - m) div v - 1` pseudo-observations from the
    * between-group variance `v = sum((p_g - m)^2) div G` — over-dispersed
    * segments get a weak prior (little shrinkage), near-homogeneous ones
    * a strong prior. Everything stays in integer ppm (rates), ppm^2 (the
    * variance), and counts (K), with fixed-order truncating divisions the
    * oracle replays; `shrunk_ppm = (c*1e6 + K*m) div (n + K)` is the ONE
    * final division per group. `K` clamps at 0 (v >= m(1e6-m) means the
    * beta MoM has no valid prior — raw rates pass through, and
    * `k_prior = 0` makes that visible rather than silent). Degenerate
    * v = 0 (all group rates identical) also passes raw through the same
    * clamp path, by `when` guard.
    *
    * Shape: one group rollup, one G-row global agg broadcast back. The
    * MoM convention here is UNWEIGHTED over groups — the prior describes
    * the population of segments, not of rows; weighting by n would let
    * one giant segment define "typical" for every small one.
    */
  def momSmoothedRates(df: DataFrame, groupCols: Seq[String],
      success: Column): DataFrame = {
    require(groupCols.nonEmpty, "momSmoothedRates needs group columns")
    val gcols = groupCols.map(col)
    val rates = df.groupBy(gcols: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("successes"))
      .withColumn("raw_ppm",
        call_function("div", col("successes") * 1000000L, col("n")))
      .pinLazy() // feeds the prior agg AND the output join
    val g = rates.agg(count(lit(1)).as("__g"), sum(col("raw_ppm")).as("__sp"))
      .select(col("__g"),
        call_function("div", col("__sp"), col("__g")).as("m_ppm"))
    val prior = rates.crossJoin(broadcast(g))
      .agg(first(col("__g")).as("__g"), first(col("m_ppm")).as("m_ppm"),
        sum(dec(col("raw_ppm") - col("m_ppm")) *
          dec(col("raw_ppm") - col("m_ppm"))).as("__ss"))
      .select(col("m_ppm"),
        call_function("div", col("__ss"), dec(col("__g"))).cast("long")
          .as("__v"))
      .select(col("m_ppm"),
        when(col("__v") > 0L,
          greatest(lit(0L), call_function("div",
            col("m_ppm") * (lit(1000000L) - col("m_ppm")), col("__v"))
            - 1L))
          .otherwise(lit(0L)).as("k_prior"))
    rates.crossJoin(broadcast(prior))
      .select(gcols ++ Seq(col("n"), col("successes"), col("raw_ppm"),
        col("m_ppm"), col("k_prior"),
        call_function("div",
          col("successes") * 1000000L + col("k_prior") * col("m_ppm"),
          col("n") + col("k_prior")).as("shrunk_ppm")): _*)
  }

  /** Restricted mean survival time from a [[kaplanMeier]] curve: the area
    * under the step function up to `horizonDays`, in exact ppm-day units
    * — "expected retained days per user within the first h days", the
    * scalar the KM curve is usually consumed as. Pure integer step
    * geometry over the calendar-bounded curve rows (window + one-row
    * tail); `rmst_ppm_days / 1e6` is the mean in days. One row.
    */
  def rmst(km: DataFrame, horizonDays: Long): DataFrame = {
    require(horizonDays >= 1, s"horizonDays: $horizonDays")
    val w = Window.orderBy(col("duration").asc)
    val r = km.select(col("duration"), col("surv_ppm"))
      .withColumn("s_prev", lag(col("surv_ppm"), 1, 1000000L).over(w))
      .withColumn("t_prev", lag(col("duration"), 1, 0L).over(w))
    val head = r.filter(col("t_prev") < horizonDays)
      .agg(coalesce(sum(col("s_prev") *
        (least(col("duration"), lit(horizonDays)) - col("t_prev"))), lit(0L))
        .as("head"))
    // the open tail: survival holds at its last value until the horizon.
    // An EMPTY curve means nobody died — survival is 1e6 for the whole
    // horizon (a limit(1) here would return zero rows and silently erase
    // the result; the agg always yields one row)
    val tail = km.agg(
      when(max(col("duration")).isNull, lit(horizonDays * 1000000L))
        .when(max(col("duration")) < horizonDays,
          max_by(col("surv_ppm"), col("duration")) *
            (lit(horizonDays) - max(col("duration"))))
        .otherwise(0L).as("tail"))
    head.crossJoin(broadcast(tail))
      .select(lit(horizonDays).as("horizon_days"),
        (col("head") + col("tail")).as("rmst_ppm_days"))
  }

  /** Poisson(1) CDF thresholds in ppm (e^-1-derived FIXED public
    * constants, the Benford discipline — no engine's libm in the hash
    * path): u_ppm < t(k) assigns bootstrap weight k.
    */
  private val PoissonPpm: Seq[Long] =
    Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L,
      999990L, 999999L)

  /** Distributed bootstrap CI for a two-sample mean difference via
    * POISSONIZATION — the standard cluster-scale bootstrap (resampling n
    * rows with replacement is a coordination nightmare; giving every row
    * an independent Poisson(1) multiplicity per replicate is
    * embarrassingly parallel and converges to the same law). Weights are
    * DETERMINISTIC: `u = md5(id|replicate|seed) mod 1e6` against the
    * fixed [[PoissonPpm]] thresholds, so every engine draws the same
    * resamples. Replicate statistics are exact integer milli-means
    * (`sum(w*v)*1000 div sum(w)`, values must be non-negative fixed-point
    * so the truncating division is engine-agnostic; the DIFFERENCE may be
    * negative — subtraction happens after the divisions).
    *
    * One row out: observed diff, the percentile-bootstrap
    * [2.5%, 97.5%] bounds over `b` replicates, and the replicate count.
    * Shape: an explode-by-replicate fan-out whose (replicate)-keyed
    * partial agg combines map-side — the shuffle carries `b` rows per
    * task, never the fanned data. Replicates where either group draws
    * total weight 0 are dropped (b_eff reports how many survived).
    *
    * CPU shape: the md5 digest is LANE-SPLIT — one
    * `md5(id|block|seed)` per FOUR replicates (block = ceil(j/4)),
    * computed before the lane explode so it evaluates once per
    * (row, block); each replicate reads its own 8-hex slice
    * (`substring(h, 1+8*((j-1)%4), 8)`) of the 32-hex digest. Each
    * slice is an independent uniform 32-bit draw, so the Poisson law
    * is unchanged while the dominant per-(row, replicate) hash cost
    * drops 4x (the r10 driver bench read 40 s under contention with a
    * per-replicate digest). Requires b % 4 == 0.
    */
  def bootstrapMeanDiff(df: DataFrame, idCol: Column, valueCol: Column,
      inB: Column, b: Int = 100, seed: String = "bs"): DataFrame = {
    require(b >= 4 && b <= 10000 && b % 4 == 0, s"b: $b (must be a multiple of 4)")
    // the per-(row, block) digest fan-out is CPU-bound — spread a
    // single-split input first (graft.sources.Sources.fanOut scaladoc;
    // measured q283 4.6 -> 1.4 s)
    val base = graft.sources.Sources.fanOut(df).filter(valueCol.isNotNull)
      .select(idCol.cast("string").as("__id"),
        valueCol.cast("long").as("__v"), inB.as("__grp"))
    // block explode -> ONE digest per (row, block) -> lane explode
    val rep = base
      .select(col("__id"), col("__v"), col("__grp"),
        explode(sequence(lit(1), lit(b / 4))).as("__blk"))
      .withColumn("__h", md5(concat(col("__id"), lit("|"),
        col("__blk").cast("string"), lit("|"), lit(seed))))
      .select(col("__id"), col("__v"), col("__grp"), col("__blk"), col("__h"),
        explode(sequence(lit(0), lit(3))).as("__lane"))
      .withColumn("__j", (col("__blk") - 1) * 4 + col("__lane") + 1)
    val u = expr("conv(substring(__h, 1 + 8 * __lane, 8), 16, 10)")
      .cast("long") % 1000000L
    // reverse fold so the SMALLEST threshold is the outermost branch —
    // u < t(0) must win before u < t(1) ever evaluates
    val w = PoissonPpm.zipWithIndex.reverse.foldLeft(lit(PoissonPpm.size.toLong)) {
      case (acc, (t, k)) => when(u < t, lit(k.toLong)).otherwise(acc)
    }
    def meanMilli(grp: Boolean) = {
      val side = if (grp) col("__grp") else !col("__grp")
      call_function("div",
        sum(when(side, col("__w") * col("__v")).otherwise(0L)) * 1000L,
        nullif(sum(when(side, col("__w")).otherwise(0L)), lit(0L)))
    }
    val ts = rep.withColumn("__w", w)
      .groupBy(col("__j"))
      .agg((meanMilli(false) - meanMilli(true)).as("t"))
      .filter(col("t").isNotNull)
    val obs = base
      .agg((call_function("div",
        sum(when(!col("__grp"), col("__v")).otherwise(0L)) * 1000L,
        nullif(sum(when(!col("__grp"), 1L).otherwise(0L)), lit(0L))) -
        call_function("div",
          sum(when(col("__grp"), col("__v")).otherwise(0L)) * 1000L,
          nullif(sum(when(col("__grp"), 1L).otherwise(0L)), lit(0L))))
        .as("obs_diff_milli"))
    // try_element_at: an all-degenerate replicate set (empty arr) yields
    // NULL bounds, matching the oracle's empty-list NULLs — ANSI
    // element_at would raise instead of degrading
    val bounds = ts.agg(sort_array(collect_list(col("t"))).as("arr"))
      .select(
        expr("try_element_at(arr, greatest(1, cast(ceil(size(arr) * 0.025) as int)))")
          .as("lo_milli"),
        expr("try_element_at(arr, cast(ceil(size(arr) * 0.975) as int))").as("hi_milli"),
        size(col("arr")).cast("long").as("b_eff"))
    obs.crossJoin(broadcast(bounds))
  }

  /** Kaplan-Meier survival curve over integer durations (days), in
    * truncated integer micro-units. Input: one row per subject with a
    * duration and a censoring flag. Event times are the distinct durations
    * with at least one uncensored exit; `at_risk(t)` counts subjects with
    * `duration >= t` (subjects censored exactly at t are still at risk at
    * t — the standard convention). The survival product is the stepwise
    * TRUNCATED fold `s_i = (s_{i-1} * (r_i - d_i)) div r_i` from 1e6, so
    * every step is exact integer arithmetic an oracle replays with a
    * recursive CTE.
    *
    * The fold is sequential by nature; it runs over the EVENT-TIME rollup,
    * whose cardinality is calendar-bounded (distinct observed durations),
    * via sort_array(collect_list) + a higher-order aggregate — the
    * waterFillAllocation bounded-by-contract pattern, guarded by
    * `maxSteps` so an unbounded-duration misuse fails loud.
    */
  def kaplanMeier(df: DataFrame, durationCol: Column, censoredCol: Column,
      maxSteps: Int = 100000): DataFrame = {
    val steps = survivalSteps(df, durationCol, censoredCol)
    val folded = steps
      .agg(sort_array(collect_list(struct(col("dur"), col("at_risk"),
        col("deaths")))).as("st"))
      .select(explode(expr(
        s"""CASE WHEN size(st) > $maxSteps THEN
           |  raise_error(concat('kaplanMeier exceeded $maxSteps event times — ',
           |    'durations must be calendar-bounded integers'))
           |ELSE
           |  aggregate(st,
           |    CAST(array() AS array<struct<dur:bigint,at_risk:bigint,deaths:bigint,surv:bigint>>),
           |    (acc, x) -> array_append(acc, named_struct(
           |      'dur', x.dur, 'at_risk', x.at_risk, 'deaths', x.deaths,
           |      'surv', coalesce(try_element_at(acc, -1).surv, CAST(1000000 AS BIGINT))
           |                * (x.at_risk - x.deaths) div x.at_risk)))
           |END""".stripMargin)).as("s"))
    folded.select(col("s.dur").as("duration"), col("s.at_risk").as("at_risk"),
      col("s.deaths").as("deaths"), col("s.surv").as("surv_ppm"))
  }

  /** Event-time rollup shared by [[kaplanMeier]] and [[nelsonAalen]]:
    * (dur, at_risk, deaths) for every distinct duration with at least one
    * uncensored exit. `at_risk(t)` = total minus exits strictly before t
    * (a subject censored exactly at t is still at risk at t). The windows
    * run over the DISTINCT-duration rollup — calendar-bounded single
    * partition by contract, the same bound the downstream folds declare.
    */
  private def survivalSteps(df: DataFrame, durationCol: Column,
      censoredCol: Column): DataFrame = {
    val base = df.select(durationCol.cast("long").as("dur"),
      censoredCol.cast("boolean").as("cens"))
    val byDur = base.groupBy(col("dur")).agg(
      count(lit(1)).as("n_exit"),
      sum(when(!col("cens"), 1L).otherwise(0L)).as("deaths"))
    val w = Window.orderBy(col("dur").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    byDur
      .withColumn("at_risk",
        sum(col("n_exit")).over(Window.partitionBy(lit(1))) -
          coalesce(sum(col("n_exit")).over(w), lit(0L)))
      .filter(col("deaths") > 0L)
      .select(col("dur"), col("at_risk"), col("deaths"))
  }

  /** Nelson-Aalen cumulative hazard (Nelson 1972, Aalen 1978) — the
    * additive sibling of [[kaplanMeier]]'s multiplicative survival: at
    * each event time the hazard increment is `d_i / r_i`, and the
    * estimator is the running SUM of increments. Because it is a sum, no
    * sequential fold is needed at all: each step's
    * `haz_step_ppm = d_i*1e6 div r_i` (non-negative truncation,
    * engine-agnostic) and `cum_hazard_ppm` is one cumulative window over
    * the event-time rollup — the same calendar-bounded single partition
    * the KM fold already declares, minus the fold. NA is the
    * preferred estimator under heavy ties / small risk sets (the log of
    * KM explodes where NA degrades gracefully), and its increments feed
    * hazard-ratio eyeballing directly.
    */
  /** Unbiased pass@k (Chen et al. 2021, "Evaluating Large Language Models
    * Trained on Code", arXiv:2107.03374, eq. 1): with n sampled attempts
    * per problem of which c passed, the probability that at least one of
    * k drawn attempts passes is `1 - C(n-c,k)/C(n,k)` — the numerically
    * stable product form `Pi_{i<k} (n-c-i)/(n-i)` computed here as ONE
    * exact integer fraction (numerator/denominator DECIMAL products,
    * single non-negative truncating ppm division), not the floating-point
    * running product of the reference implementation. Problems with fewer
    * than k attempts cannot estimate pass@k and are excluded (the
    * standard n >= k requirement); c >= n-k+1 makes the numerator hit a
    * zero factor and pass@k exactly 1e6.
    *
    * Shape: one problem-keyed partial agg; the k-factor products are
    * literal expressions (k is tiny by definition). Nothing beyond the
    * rollup.
    */
  def passAtK(df: DataFrame, problemCol: Column, passed: Column,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"k: $k")
    val agg = df.groupBy(problemCol.as("problem")).agg(
      count(lit(1)).as("n"),
      sum(when(passed, 1L).otherwise(0L)).as("c"))
    val num = (0 until k)
      .map(i => dec(greatest(col("n") - col("c") - i, lit(0L))))
      .reduce(_ * _)
    val den = (0 until k).map(i => dec(col("n") - lit(i.toLong))).reduce(_ * _)
    agg.filter(col("n") >= k)
      .withColumn("pass_at_k_ppm",
        lit(1000000L) -
          call_function("div", num * 1000000L, den).cast("long"))
  }

  /** Unbiased majority@k for binary-graded attempts: the probability that
    * a k-sample WITHOUT replacement from the n attempts contains a
    * strict majority of passing ones — the self-consistency estimator
    * (Wang et al. 2023, arXiv:2203.11171) in the same
    * exact-hypergeometric spirit as [[passAtK]]:
    * `P = sum_{i>=floor(k/2)+1} C(c,i)*C(n-c,k-i) / C(n,k)`.
    * The numerator accumulates EXACT DECIMAL binomials (each
    * `C(x,i) = Pi_{j<i}(x-j) div i!` — the division is exact because
    * binomials are integers, so the truncating div is lossless) and the
    * ppm is ONE final non-negative truncating division. Even k counts a
    * tie as a miss (strict majority — the deterministic convention).
    * Problems with n < k are excluded, as in passAtK.
    */
  def majorityAtK(df: DataFrame, problemCol: Column, passed: Column,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 20, s"k: $k")
    def fact(i: Int): Long = (1 to i).map(_.toLong).product
    // C(expr, i) as an exact DECIMAL expression; 0 when expr < i
    def choose(x: Column, i: Int): Column =
      if (i == 0) dec(lit(1L))
      else call_function("div",
        (0 until i).map(j => dec(greatest(x - j, lit(0L)))).reduce(_ * _),
        dec(lit(fact(i))))
    val agg = df.groupBy(problemCol.as("problem")).agg(
      count(lit(1)).as("n"),
      sum(when(passed, 1L).otherwise(0L)).as("c"))
    val tMin = k / 2 + 1
    val num = (tMin to k)
      .map(i => choose(col("c"), i) * choose(col("n") - col("c"), k - i))
      .reduce(_ + _)
    agg.filter(col("n") >= k)
      .withColumn("majority_at_k_ppm",
        call_function("div", num * 1000000L, choose(col("n"), k))
          .cast("long"))
  }

  /** Fleiss' kappa (Fleiss 1971): chance-corrected agreement among a
    * FIXED number of raters per item over categorical labels — the
    * labeling-QA gate for annotation pipelines (is this label set
    * trainable, or are the raters guessing?). Exact integer operands:
    *   `po_ppm = (sum_ic n_ic^2 - N*n) * 1e6 div (N*n*(n-1))`
    *   `pe_ppm = sum_c (sum_i n_ic)^2 * 1e6 div (N*n)^2`
    * (each ONE non-negative truncating division over DECIMAL products),
    * and `kappa = (po - pe) / (1e6 - pe)` as a single IEEE division of
    * exact micro integers — the [[cohenKappa]] convention, since kappa
    * goes negative on worse-than-chance raters. Items whose rating count
    * differs from `nRaters` are EXCLUDED (Fleiss requires a balanced
    * panel; the excluded count is the caller's completeness audit via
    * n_items). Perfect-agreement-by-vocabulary-collapse (pe = 1e6) has
    * an undefined kappa -> NULL.
    *
    * Shape: one (item, label) rollup, one item-keyed and one label-keyed
    * agg above it, a 1-row combine. Nothing grows past distinct labels.
    */
  def fleissKappa(df: DataFrame, itemCol: Column, labelCol: Column,
      nRaters: Int): DataFrame = {
    require(nRaters >= 2, s"nRaters: $nRaters")
    val cells = df.filter(labelCol.isNotNull)
      .groupBy(itemCol.as("item"), labelCol.as("label"))
      .agg(count(lit(1)).as("n_il"))
    val complete = cells.groupBy(col("item"))
      .agg(sum(col("n_il")).as("__tot"))
      .filter(col("__tot") === nRaters.toLong)
      .select(col("item"))
    val kept = cells.join(complete, "item")
      .pinLazy() // feeds the item-wise and label-wise rollups
    val po = kept.agg(
      countDistinct(col("item")).as("n_items"),
      sum(dec(col("n_il")) * col("n_il")).as("__sq"))
    val pe = kept.groupBy(col("label"))
      .agg(sum(col("n_il")).as("__nc"))
      .agg(sum(dec(col("__nc")) * col("__nc")).as("__esq"))
    po.crossJoin(pe)
      .select(col("n_items"), lit(nRaters).cast("long").as("n_raters"),
        call_function("div",
          (col("__sq") - dec(col("n_items")) * nRaters.toLong) * 1000000L,
          dec(col("n_items")) * nRaters.toLong * (nRaters - 1).toLong)
          .cast("long").as("po_ppm"),
        call_function("div", col("__esq") * 1000000L,
          dec(col("n_items")) * nRaters.toLong *
            dec(col("n_items")) * nRaters.toLong)
          .cast("long").as("pe_ppm"))
      .withColumn("kappa",
        when(col("pe_ppm") < 1000000L,
          (col("po_ppm") - col("pe_ppm")).cast("double") /
            (lit(1000000L) - col("pe_ppm")).cast("double")))
  }

  /** Stratified average treatment effect over a NON-NEGATIVE fixed-point
    * outcome (cents): within each stratum the treated-vs-control mean
    * difference, then the population-weighted combination — the classic
    * covariate-adjustment estimator (Cochran 1968; equivalent to inverse-
    * propensity weighting when the propensity model is the stratum
    * indicator), the continuous-outcome sibling of [[upliftBySegment]]'s
    * conversion-rate readout.
    *
    * Exactness: per-stratum means are non-negative truncating micro
    * divisions, subtracted AFTER dividing (the q274 lesson — signed
    * truncation diverges between engines); the population ATE weights the
    * signed per-stratum diffs by exact stratum sizes in DECIMAL and
    * applies ONE final sign-magnitude division by N. Off-support strata
    * (no treated or no control rows) cannot estimate a contrast and are
    * EXCLUDED from both the output and the weighting — the standard
    * positivity restriction, reported via the weights summing short of
    * 1e6.
    *
    * Output: one row per on-support stratum (sizes, means, diff,
    * weight_ppm) with the shared population `ate_micro` carried on every
    * row. Shape: one stratum-keyed partial agg + a broadcast 1-row total.
    */
  def stratifiedAte(df: DataFrame, strataCols: Seq[String], treated: Column,
      outcomeUnits: Column): DataFrame = {
    require(strataCols.nonEmpty, "stratifiedAte needs strata columns")
    val gcols = strataCols.map(col)
    val s = df.filter(outcomeUnits.isNotNull)
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_s"),
        sum(when(treated, 1L).otherwise(0L)).as("n_t"),
        sum(when(treated, outcomeUnits.cast("long")).otherwise(0L)).as("__st"),
        sum(when(!treated, outcomeUnits.cast("long")).otherwise(0L)).as("__sc"))
      .withColumn("n_c", col("n_s") - col("n_t"))
      .filter(col("n_t") > 0L && col("n_c") > 0L)
      .withColumn("mean_t_micro",
        call_function("div", col("__st") * 1000000L, col("n_t")))
      .withColumn("mean_c_micro",
        call_function("div", col("__sc") * 1000000L, col("n_c")))
      .withColumn("diff_micro", col("mean_t_micro") - col("mean_c_micro"))
    val tot = s.agg(sum(col("n_s")).as("__n"),
      sum(dec(col("n_s")) * col("diff_micro")).as("__wsum"))
      .select(col("__n"),
        (signum(col("__wsum")).cast("long") *
          call_function("div", abs(col("__wsum")), dec(col("__n")))
            .cast("long")).as("ate_micro"))
    s.crossJoin(broadcast(tot))
      .withColumn("weight_ppm",
        call_function("div", col("n_s") * 1000000L, col("__n")))
      .select(gcols ++ Seq(col("n_s"), col("n_t"), col("n_c"),
        col("mean_t_micro"), col("mean_c_micro"), col("diff_micro"),
        col("weight_ppm"), col("ate_micro")): _*)
  }

  def nelsonAalen(df: DataFrame, durationCol: Column,
      censoredCol: Column): DataFrame = {
    val steps = survivalSteps(df, durationCol, censoredCol)
      .withColumn("haz_step_ppm",
        call_function("div", col("deaths") * 1000000L, col("at_risk")))
    steps
      .withColumn("cum_hazard_ppm",
        sum(col("haz_step_ppm")).over(Window.orderBy(col("dur").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("dur").as("duration"), col("at_risk"), col("deaths"),
        col("haz_step_ppm"), col("cum_hazard_ppm"))
  }

  /** Kitagawa / Oaxaca-Blinder decomposition of a rate change between two
    * periods: `R1 - R0 = sum_s w1_s (r1_s - r0_s)  [rate effect]
    * + sum_s r0_s (w1_s - w0_s)  [mix effect]` — did conversion actually
    * drop, or did the traffic mix shift toward worse-converting
    * segments? The identity is EXACT in rationals; here every term is
    * ONE sign-magnitude micro division of exact integer products
    * (`w1(r1-r0) = (c1*n0 - c0*n1) / (N1*n0)`;
    * `r0(w1-w0) = c0*(n1*N0 - n0*N1) / (n0*N1*N0)`), and the `__total`
    * row carries the overall delta plus the RESIDUAL the per-term
    * truncations leave — the price of engine-portable integers, visible
    * instead of silently re-scaled (the price-volume-mix discipline).
    * Strata present in only one period contribute their whole effect
    * through the zero-count side (empty-period rates read 0 by the
    * n > 0 guards).
    *
    * Shape: one strata rollup carrying both periods as conditional sums,
    * a broadcast 1-row totals agg, bounded arithmetic.
    */
  def kitagawaDecomposition(df: DataFrame, inPeriod1: Column,
      strataCols: Seq[String], success: Column): DataFrame = {
    require(strataCols.size == 1,
      "kitagawaDecomposition takes exactly one strata column (the __total" +
        " row reuses its name)")
    val gcols = strataCols.map(col)
    def sgnDiv(num: Column, den: Column): Column =
      signum(num).cast("long") *
        call_function("div", abs(num), den).cast("long")
    val s = df.groupBy(gcols: _*)
      .agg(sum(when(!inPeriod1, 1L).otherwise(0L)).as("n0"),
        sum(when(!inPeriod1 && success, 1L).otherwise(0L)).as("c0"),
        sum(when(inPeriod1, 1L).otherwise(0L)).as("n1"),
        sum(when(inPeriod1 && success, 1L).otherwise(0L)).as("c1"))
      .pinLazy() // feeds the totals agg and the term pass
    val tot = s.agg(coalesce(sum(col("n0")), lit(0L)).as("__N0"),
      coalesce(sum(col("c0")), lit(0L)).as("__C0"),
      coalesce(sum(col("n1")), lit(0L)).as("__N1"),
      coalesce(sum(col("c1")), lit(0L)).as("__C1"))
    val terms = s.crossJoin(broadcast(tot))
      .withColumn("rate_eff_micro",
        when(col("n0") > 0L && col("__N1") > 0L,
          sgnDiv((dec(col("c1")) * dec(col("n0")) -
            dec(col("c0")) * dec(col("n1"))) * dec(lit(1000000L)),
            dec(col("__N1")) * dec(col("n0"))))
          .otherwise(lit(0L)))
      .withColumn("mix_eff_micro",
        when(col("n0") > 0L && col("__N0") > 0L && col("__N1") > 0L,
          sgnDiv(dec(col("c0")) *
            (dec(col("n1")) * dec(col("__N0")) -
              dec(col("n0")) * dec(col("__N1"))) * dec(lit(1000000L)),
            dec(col("n0")) * dec(col("__N1")) * dec(col("__N0"))))
          .otherwise(lit(0L)))
    // one sign-magnitude micro division per quantity; the decomposition's
    // truncation residual surfaces on the __total row
    val totalRow = terms.agg(
        first(col("__N0")).as("__N0"), first(col("__C0")).as("__C0"),
        first(col("__N1")).as("__N1"), first(col("__C1")).as("__C1"),
        coalesce(sum(col("rate_eff_micro")), lit(0L)).as("__sre"),
        coalesce(sum(col("mix_eff_micro")), lit(0L)).as("__sme"))
      .withColumn("__r1",
        when(col("__N1") > 0L, call_function("div",
          col("__C1") * 1000000L, col("__N1"))).otherwise(lit(0L)))
      .withColumn("__r0",
        when(col("__N0") > 0L, call_function("div",
          col("__C0") * 1000000L, col("__N0"))).otherwise(lit(0L)))
      .select(lit("__total").as(strataCols.head),
        col("__N0").as("n0"), col("__C0").as("c0"),
        col("__N1").as("n1"), col("__C1").as("c1"),
        col("__sre").as("rate_eff_micro"),
        col("__sme").as("mix_eff_micro"),
        (col("__r1") - col("__r0")).as("delta_micro"),
        (col("__r1") - col("__r0") - col("__sre") - col("__sme"))
          .as("residual_micro"))
    val decorated = terms.select(gcols.head.cast("string").as(strataCols.head)
      +: (Seq(col("n0"), col("c0"), col("n1"), col("c1"),
        col("rate_eff_micro"), col("mix_eff_micro"),
        lit(null).cast("long").as("delta_micro"),
        lit(null).cast("long").as("residual_micro"))): _*)
    decorated.unionByName(totalRow
      .withColumn(strataCols.head, col(strataCols.head).cast("string")))
  }

  /** Log-rank (Mantel-Cox) two-group survival test: at each event time,
    * compare group A's OBSERVED deaths with the EXPECTED share under the
    * null (deaths split proportionally to at-risk counts), accumulate
    * `O - E` and the hypergeometric variance, and report the chi-square
    * `(O - E)^2 / V` (1 df; > 3.84 is p < .05) — THE standard "are these
    * two survival curves the same" gate next to [[kaplanMeier]]'s
    * per-group curves. Exact integer accumulation: per-step
    * `e_a = d * n_a * 1e6 div n` and the variance term in micro units
    * through DECIMAL (per-step truncation is the declared convention,
    * replayed identically by the oracle); the final chi-square is ONE
    * fixed-shape IEEE expression over the exact sums.
    *
    * Shape: one duration rollup carrying both groups as conditional
    * sums, suffix-sum at-risk windows over the DISTINCT event times
    * (calendar-bounded — the [[survivalSteps]] declared single
    * partition), one global agg.
    */
  def logRankTest(df: DataFrame, inA: Column, durationCol: Column,
      censoredCol: Column): DataFrame = {
    val base = df.select(durationCol.cast("long").as("dur"),
      censoredCol.cast("boolean").as("cens"), inA.as("a"))
    val byDur = base.groupBy(col("dur")).agg(
      count(lit(1)).as("x_all"),
      sum(when(col("a"), 1L).otherwise(0L)).as("x_a"),
      sum(when(!col("cens"), 1L).otherwise(0L)).as("d_all"),
      sum(when(!col("cens") && col("a"), 1L).otherwise(0L)).as("d_a"))
    val w = Window.orderBy(col("dur").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.partitionBy(lit(1))
    val steps = byDur
      .withColumn("n_all", sum(col("x_all")).over(whole) -
        coalesce(sum(col("x_all")).over(w), lit(0L)))
      .withColumn("n_a", sum(col("x_a")).over(whole) -
        coalesce(sum(col("x_a")).over(w), lit(0L)))
      .filter(col("d_all") > 0L)
    val sizes = base.agg(
      coalesce(sum(when(col("a"), 1L).otherwise(0L)), lit(0L))
        .as("n_subjects_a"),
      coalesce(sum(when(!col("a"), 1L).otherwise(0L)), lit(0L))
        .as("n_subjects_b"))
    val agg = steps.agg(
      coalesce(sum(col("d_a")), lit(0L)).as("observed_a"),
      coalesce(sum(call_function("div",
        dec(col("d_all")) * dec(col("n_a")) * dec(lit(1000000L)),
        dec(col("n_all")))), dec(lit(0L))).cast("long")
        .as("expected_a_micro"),
      coalesce(sum(when(col("n_all") > 1L, call_function("div",
        dec(col("d_all")) * dec(col("n_all") - col("d_all")) *
          dec(col("n_a")) * dec(col("n_all") - col("n_a")) *
          dec(lit(1000000L)),
        dec(col("n_all")) * dec(col("n_all")) * dec(col("n_all") - 1L)))
        .otherwise(dec(lit(0L)))), dec(lit(0L))).cast("long")
        .as("var_micro"))
    sizes.crossJoin(broadcast(agg))
      .withColumn("chi2",
        when(col("var_micro") > 0L,
          ((col("observed_a") * 1000000L - col("expected_a_micro"))
            .cast("double") *
            (col("observed_a") * 1000000L - col("expected_a_micro"))
              .cast("double")) /
            (col("var_micro").cast("double") * lit(1.0e6))))
  }

  /** Wilson score interval (Wilson 1927) at 95% for per-group binomial
    * rates — the small-n-safe confidence band a conversion dashboard
    * should show instead of the Wald +-1.96*se (which collapses to a
    * zero-width lie at p in {0,1}). `n` and `c` aggregate exactly; the
    * bounds are IEEE doubles computed as ONE fixed-shape expression over
    * (c, n) — only correctly-rounded ops (+ - * / sqrt) in an order the
    * oracle mirrors token-for-token, the MWU-z parity discipline. The
    * z = 1.96 and z^2 = 3.8416 constants appear as decimal literals in
    * BOTH engines (each parses to the same nearest double); z^2 is NOT
    * derived as 1.96*1.96 at runtime so there is exactly one rounding.
    *
    * Shape: one partial-agg rollup on the group key; the double math is
    * per-group scalar post-processing. Nothing scales past the rollup.
    */
  def wilsonInterval(df: DataFrame, groupCols: Seq[String],
      successCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "wilsonInterval needs group columns")
    val agg = df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(when(successCol, 1L).otherwise(0L)).as("c"))
    val nn = col("n").cast("double")
    val cc = col("c").cast("double")
    val phat = cc / nn
    val denom = lit(1.0) + lit(3.8416) / nn
    val center = (phat + lit(3.8416) / (lit(2.0) * nn)) / denom
    val half = (lit(1.96) *
      sqrt((phat * (lit(1.0) - phat) + lit(3.8416) / (lit(4.0) * nn)) / nn)) /
      denom
    agg.withColumn("wilson_low", center - half)
      .withColumn("wilson_high", center + half)
  }

  /** One-way ANOVA F over fixed-point values: per-group exact moments
    * `(n_g, S_g, Q_g)` feed the between/within sums of squares with ONE
    * truncating division per group (`S_g^2 div n_g`, non-negative — floor
    * equals truncate on both engines), so
    * `ssw = Q - sum_g(S_g^2 div n_g)` and
    * `ssb = max(0, sum_g(S_g^2 div n_g) - S^2 div N)` are exact integers
    * under a shared truncation convention (error <= 1 unit^2 per group,
    * identical on every engine). F is the single IEEE division
    * `(ssb * (N - k)) / (ssw * (k - 1))` over DECIMAL products.
    *
    * Unit contract: `S_g^2 div n_g` is computed as a LONG (Spark's
    * integral divide), so values must keep `max_g S_g^2 / n_g` inside 63
    * bits — whole dollars, not cents, at warehouse row counts (~3e9 unit
    * group sums). ANSI overflow raises rather than wrapping.
    *
    * Shape: one group-keyed partial agg, then a bounded groups rollup.
    * NULL values/groups are absence of observation.
    */
  def anovaF(df: DataFrame, valueCol: Column, groupCol: Column): DataFrame = {
    val g = df.filter(valueCol.isNotNull && groupCol.isNotNull)
      .groupBy(groupCol.as("__g"))
      .agg(count(lit(1)).as("n_g"),
        sum(dec(valueCol)).as("s_g"),
        sum(dec(valueCol) * valueCol).as("q_g"))
      .withColumn("bterm",
        call_function("div", col("s_g") * col("s_g"), dec(col("n_g"))))
    g.agg(
      sum(col("n_g")).as("n"), count(lit(1)).as("k"),
      sum(col("s_g")).as("__s"), sum(col("q_g")).as("__q"),
      sum(dec(col("bterm"))).as("__b"))
      .select(col("n"), col("k"),
        greatest(lit(0L),
          (col("__b") - dec(call_function("div", col("__s") * col("__s"),
            dec(col("n"))))).cast("long")).as("ssb"),
        (col("__q") - col("__b")).cast("long").as("ssw"))
      .withColumn("f_stat",
        when(col("k") > 1L && col("n") > col("k") && col("ssw") > 0L,
          (dec(col("ssb")) * dec(col("n") - col("k"))).cast("double") /
            (dec(col("ssw")) * dec(col("k") - 1L)).cast("double")))
  }

  /** Kruskal-Wallis H — the k-group generalization of [[mannWhitney]],
    * riding the same distinct-value rollup and DOUBLED tie-averaged ranks
    * (`r2(v) = 2*below + c + 1`). Per-group rank sums `R2_g` are exact
    * DECIMAL; each group contributes `R2_g^2 div n_g` (one non-negative
    * truncating division, error <= 1 per group). With doubled ranks,
    * `H_raw = (3*S - 3*N*(N+1)^2) / (N*(N+1))` and the tie correction
    * multiplies by `(N^3-N) / (N^3-N-T)`, `T = sum(c^3-c)` — H is the
    * two-division fixed IEEE chain over those exact operands, mirrored
    * verbatim in the oracle.
    *
    * Bound contract: the per-group term `R2_g^2 div n_g ~ 4*N^2*n_g` is a
    * LONG — N beyond ~2e6 observations must pre-bin/sample (the in-plan
    * raise guard fires on the distinct-value count first, and ANSI
    * overflow raises rather than wrapping). One row:
    * (n, k, tie_term, h_stat); all-tied input (one distinct value) emits
    * NULL h.
    */
  def kruskalWallis(df: DataFrame, valueCol: Column, groupCol: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    require(maxDistinct >= 1, s"maxDistinct: $maxDistinct")
    val base = df.filter(valueCol.isNotNull && groupCol.isNotNull)
      .select(groupCol.as("__g"), valueCol.as("v"))
    val byValGroup = base.groupBy(col("v"), col("__g"))
      .agg(count(lit(1)).as("c_vg"))
    val byVal = byValGroup.groupBy(col("v")).agg(sum(col("c_vg")).as("c_v"))
    val w = Window.orderBy(col("v").asc)
    val guard = when(row_number().over(w) > maxDistinct,
      raise_error(lit(s"kruskalWallis exceeded $maxDistinct distinct " +
        "values — the rank cum-sum window is single-partition; bin the " +
        "metric to fixed-point first")).cast("long")).otherwise(lit(0L))
    val ranked = byVal
      .withColumn("cum", sum(col("c_v")).over(w) + guard)
      .select(col("v"),
        (lit(2L) * (col("cum") - col("c_v")) + col("c_v") + 1L).as("r2"))
    val perGroup = byValGroup.join(ranked, "v")
      .groupBy(col("__g"))
      .agg(sum(col("c_vg")).as("n_g"),
        sum(dec(col("c_vg")) * col("r2")).as("r2_g"))
      .withColumn("term",
        call_function("div", col("r2_g") * col("r2_g"), dec(col("n_g"))))
    val ties = byVal.agg(
      (sum(dec(col("c_v")) * dec(col("c_v")) * dec(col("c_v"))) -
        sum(dec(col("c_v")))).cast("long").as("tie_term"))
    val n3 = dec(col("n")) * dec(col("n")) * dec(col("n")) - dec(col("n"))
    perGroup
      .agg(sum(col("n_g")).as("n"), count(lit(1)).as("k"),
        sum(dec(col("term"))).as("__s"))
      .crossJoin(ties)
      .select(col("n"), col("k"), col("tie_term"),
        when(col("k") > 1L && n3 > dec(col("tie_term")),
          ((dec(lit(3L)) * col("__s") -
            dec(lit(3L)) * dec(col("n")) * dec(col("n") + 1L) *
              dec(col("n") + 1L)).cast("double") /
            (dec(col("n")) * dec(col("n") + 1L)).cast("double")) *
            (n3.cast("double") / (n3 - dec(col("tie_term"))).cast("double")))
          .as("h_stat"))
  }

  /** McNemar's test for paired classifiers: the two discordant cells
    * (A-only-correct, B-only-correct) carry ALL the information about
    * whether the labelers differ; `chi2 = (b-c)^2 / (b+c)` plus the
    * Edwards continuity-corrected variant `(|b-c|-1)^2 / (b+c)` (clamped
    * at 0) — each one IEEE division over exact counts. The concordant
    * cells are emitted for the confusion readout. NULL chi2 when the
    * labelers never disagree.
    */
  def mcnemar(df: DataFrame, aCorrect: Column, bCorrect: Column): DataFrame = {
    val agg0 = df.filter(aCorrect.isNotNull && bCorrect.isNotNull).agg(
      count(lit(1)).as("n"),
      sum(when(aCorrect && bCorrect, 1L).otherwise(0L)).as("n_both"),
      sum(when(aCorrect && !bCorrect, 1L).otherwise(0L)).as("n_a_only"),
      sum(when(!aCorrect && bCorrect, 1L).otherwise(0L)).as("n_b_only"),
      sum(when(!aCorrect && !bCorrect, 1L).otherwise(0L)).as("n_neither"))
    val d = col("n_a_only") - col("n_b_only")
    val tot = col("n_a_only") + col("n_b_only")
    val dcc = greatest(abs(d) - 1L, lit(0L))
    agg0
      .withColumn("chi2",
        when(tot > 0L, (d * d).cast("double") / tot.cast("double")))
      .withColumn("chi2_cc",
        when(tot > 0L, (dcc * dcc).cast("double") / tot.cast("double")))
  }

  /** Cohen's d standardized mean difference (B minus A) with the Hedges'
    * g small-sample correction. Exact moments per sample; the pooled
    * within variance uses the [[anovaF]] truncating-division convention
    * (`ssw = (Q_a - S_a^2 div n_a) + (Q_b - S_b^2 div n_b)`, exact
    * integer, unit contract identical: whole units, not cents, at
    * warehouse scale). The mean difference can be NEGATIVE, so it never
    * passes through an integral division (Spark truncates, DuckDB floors)
    * — d is the fixed IEEE chain
    * `(S_b*n_a - S_a*n_b) / (n_a*n_b) / sqrt(ssw / (n_a+n_b-2))` and
    * `g = d * (1 - 3/(4*(n-2)-1))`, both mirrored verbatim. One row.
    */
  def cohensD(df: DataFrame, valueCol: Column, inB: Column): DataFrame = {
    val x = valueCol
    val agg0 = df.filter(x.isNotNull && inB.isNotNull).agg(
      sum(when(inB, 0L).otherwise(1L)).as("n_a"),
      sum(when(inB, 1L).otherwise(0L)).as("n_b"),
      sum(when(inB, lit(0L)).otherwise(dec(x))).as("s_a"),
      sum(when(inB, dec(x)).otherwise(lit(0L))).as("s_b"),
      sum(when(inB, lit(0L)).otherwise(dec(x) * x)).as("q_a"),
      sum(when(inB, dec(x) * x).otherwise(lit(0L))).as("q_b"))
    val ssw =
      (col("q_a") - dec(call_function("div", col("s_a") * col("s_a"),
        dec(col("n_a")))) +
        (col("q_b") - dec(call_function("div", col("s_b") * col("s_b"),
          dec(col("n_b")))))).cast("long")
    val n = col("n_a") + col("n_b")
    val dStat =
      (col("s_b") * dec(col("n_a")) - col("s_a") * dec(col("n_b")))
        .cast("double") /
        (dec(col("n_a")) * dec(col("n_b"))).cast("double") /
        sqrt(col("ssw").cast("double") / (n - 2L).cast("double"))
    agg0
      .withColumn("ssw", ssw)
      .select(col("n_a"), col("n_b"), col("ssw"),
        when(col("n_a") > 0L && col("n_b") > 0L && n > 2L && col("ssw") > 0L,
          dStat).as("d"))
      .withColumn("hedges_g",
        col("d") * (lit(1.0) -
          lit(3.0) / (lit(4L) * (col("n_a") + col("n_b") - 2L) - 1L)
            .cast("double")))
  }

  /** Cochran-Armitage trend test: is a success rate MONOTONE in an
    * ordered integer dose? With per-dose totals `n_i`, successes `r_i`,
    * scores `w_i` = the dose value itself, `N`, `R`, `W1 = sum(w_i*n_i)`,
    * `W2 = sum(w_i^2*n_i)`, `T = sum(w_i*r_i)` — all exact — the z
    * statistic is
    * `(N*T - R*W1) / sqrt(R*(N-R) * (N*W2 - W1^2) / N)` as a fixed IEEE
    * chain (numerator signed, so no integral division anywhere). One row:
    * (n, r, w1, t, z). Degenerate (constant dose or all/no successes)
    * emits NULL z.
    *
    * Shape: one dose-keyed partial agg (dose cardinality bounds
    * everything downstream).
    */
  def cochranArmitage(df: DataFrame, doseCol: Column,
      successCol: Column): DataFrame = {
    val byDose = df.filter(doseCol.isNotNull && successCol.isNotNull)
      .groupBy(doseCol.cast("long").as("__w"))
      .agg(count(lit(1)).as("n_i"),
        sum(when(successCol, 1L).otherwise(0L)).as("r_i"))
    val agg0 = byDose.agg(
      sum(col("n_i")).as("n"), sum(col("r_i")).as("r"),
      sum(dec(col("__w")) * col("n_i")).cast("long").as("w1"),
      sum(dec(col("__w")) * dec(col("__w")) * col("n_i")).as("__w2"),
      sum(dec(col("__w")) * col("r_i")).cast("long").as("t"))
    val num = dec(col("n")) * dec(col("t")) - dec(col("r")) * dec(col("w1"))
    val varTerm = dec(col("r")) * dec(col("n") - col("r")) *
      (dec(col("n")) * col("__w2") - dec(col("w1")) * dec(col("w1")))
    agg0.select(col("n"), col("r"), col("w1"), col("t"),
      when(col("r") > 0L && col("r") < col("n") &&
        dec(col("n")) * col("__w2") > dec(col("w1")) * dec(col("w1")),
        num.cast("double") /
          sqrt(varTerm.cast("double") / col("n").cast("double"))).as("z"))
  }

  /** Brown-Forsythe robust variance-homogeneity test: one-way ANOVA on
    * absolute deviations from the per-group MEDIAN (Levene's test with
    * the median center — robust to the heavy tails that break the mean
    * version). The median is exact via the per-group distinct-value
    * rollup ([[graft.operators.Ranking.valueRanks]], grouped — fully
    * parallel): DOUBLED median `med2 = v@lo + v@hi` keeps the even-n
    * midpoint integral, deviations are `|2x - med2|`, and the F statistic
    * is [[anovaF]] over those (so the unit contract doubles: keep
    * `4 * max_g S_g^2 / n_g` inside 63 bits).
    */
  def brownForsythe(df: DataFrame, valueCol: Column,
      groupCol: Column): DataFrame = {
    val base = df.filter(valueCol.isNotNull && groupCol.isNotNull)
      .select(groupCol.as("__g"), valueCol.cast("long").as("__x"))
    val ranks = graft.operators.Ranking.valueRanks(base, Seq("__g"), col("__x"))
    val ng = ranks.groupBy(col("__g")).agg(sum(col("n_rows")).as("__n"))
    val lo = call_function("div", col("__n") + 1L, lit(2L))
    val hi = call_function("div", col("__n") + 2L, lit(2L))
    val med = ranks.join(ng, "__g")
      .groupBy(col("__g"))
      .agg(
        sum(when(col("rnk") <= lo && lo < col("rnk") + col("n_rows"),
          col("v")).otherwise(0L)).as("__vlo"),
        sum(when(col("rnk") <= hi && hi < col("rnk") + col("n_rows"),
          col("v")).otherwise(0L)).as("__vhi"))
      .select(col("__g"), (col("__vlo") + col("__vhi")).as("__med2"))
    anovaF(
      base.join(med, "__g")
        .select(col("__g"), abs(col("__x") * 2L - col("__med2")).as("__dev")),
      col("__dev"), col("__g"))
  }

  /** Cochran-Mantel-Haenszel pooled 2x2 analysis across strata — the
    * confounder-adjusted association readout (is exposure linked to
    * outcome once the stratifier is held fixed; Simpson's-paradox
    * insurance): the MH pooled odds ratio
    * `OR = sum(a*d/n) / sum(b*c/n)` with each per-stratum term
    * micro-truncated (non-negative, engine-identical), and the CMH
    * chi-square `(sum a - sum E)^2 / sum Var` with
    * `E = r1*c1/n`, `Var = r1*r0*c1*c0 / (n^2 (n-1))`, both accumulated
    * in declared micro units; the statistic is ONE IEEE division over
    * exact DECIMAL operands. Strata with n < 2 are excluded (no defined
    * variance). One row: (n_strata, sum_a, or_milli, chi2).
    */
  def cmh(df: DataFrame, strataCols: Seq[String], exposed: Column,
      outcome: Column): DataFrame = {
    require(strataCols.nonEmpty, "cmh needs strata columns")
    val strata = df
      .filter(exposed.isNotNull && outcome.isNotNull)
      .groupBy(strataCols.map(col): _*)
      .agg(
        sum(when(exposed && outcome, 1L).otherwise(0L)).as("a"),
        sum(when(exposed && !outcome, 1L).otherwise(0L)).as("b"),
        sum(when(!exposed && outcome, 1L).otherwise(0L)).as("c"),
        sum(when(!exposed && !outcome, 1L).otherwise(0L)).as("dd"))
      .withColumn("n", col("a") + col("b") + col("c") + col("dd"))
      .filter(col("n") >= 2L)
    val r1 = col("a") + col("b")
    val r0 = col("c") + col("dd")
    val c1 = col("a") + col("c")
    val c0 = col("b") + col("dd")
    val agg0 = strata.agg(
      count(lit(1)).as("n_strata"),
      sum(col("a")).as("sum_a"),
      sum(dec(call_function("div", dec(col("a")) * col("dd") * 1000000L,
        dec(col("n"))))).as("__r"),
      sum(dec(call_function("div", dec(col("b")) * col("c") * 1000000L,
        dec(col("n"))))).as("__s"),
      sum(dec(call_function("div", dec(r1) * c1 * 1000000L,
        dec(col("n"))))).as("__e6"),
      sum(dec(call_function("div",
        dec(r1) * dec(r0) * dec(c1) * c0 * 1000000L,
        dec(col("n")) * dec(col("n")) * dec(col("n") - 1L)))).as("__v6"))
    val diff = dec(col("sum_a")) * 1000000L - col("__e6")
    agg0.select(col("n_strata"), col("sum_a"),
      when(col("__s") > dec(lit(0L)),
        call_function("div", col("__r") * 1000L, col("__s")).cast("long"))
        .as("or_milli"),
      when(col("__v6") > dec(lit(0L)),
        (diff * diff).cast("double") /
          (dec(lit(1000000L)) * col("__v6")).cast("double")).as("chi2"))
  }

  /** Dunn's post-hoc pairwise comparisons after [[kruskalWallis]] — WHICH
    * groups differ, using the shared global rank pool (never pairwise
    * re-ranking, which changes the question): per pair,
    * `z = (mean_rank_g - mean_rank_h) /
    *      sqrt((N(N+1)/12 - T/(12(N-1))) * (1/n_g + 1/n_h))`
    * over the same doubled tie-averaged ranks (the doubled means and the
    * doubled variance factor cancel via the leading 2). Rank sums are
    * exact; each z is a fixed IEEE chain mirrored by the oracle. One row
    * per unordered group pair — the pair join is GROUP-domain sized.
    */
  def dunnPosthoc(df: DataFrame, valueCol: Column, groupCol: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    require(maxDistinct >= 1, s"maxDistinct: $maxDistinct")
    val base = df.filter(valueCol.isNotNull && groupCol.isNotNull)
      .select(groupCol.as("__g"), valueCol.as("v"))
    val byValGroup = base.groupBy(col("v"), col("__g"))
      .agg(count(lit(1)).as("c_vg"))
      .pinLazy() // feeds the value rollup AND the group join
    val byVal = byValGroup.groupBy(col("v")).agg(sum(col("c_vg")).as("c_v"))
    val w = Window.orderBy(col("v").asc)
    val guard = when(row_number().over(w) > maxDistinct,
      raise_error(lit(s"dunnPosthoc exceeded $maxDistinct distinct " +
        "values — bin the metric to fixed-point first")).cast("long"))
      .otherwise(lit(0L))
    val ranked = byVal
      .withColumn("cum", sum(col("c_v")).over(w) + guard)
      .select(col("v"),
        (lit(2L) * (col("cum") - col("c_v")) + col("c_v") + 1L).as("r2"))
    val perGroup = byValGroup.join(ranked, "v")
      .groupBy(col("__g"))
      .agg(sum(col("c_vg")).as("n_g"),
        sum(dec(col("c_vg")) * col("r2")).cast("long").as("r2_g"))
    val ties = byVal.agg(
      sum(col("c_v")).as("n"),
      (sum(dec(col("c_v")) * dec(col("c_v")) * dec(col("c_v"))) -
        sum(dec(col("c_v")))).cast("long").as("tie_term"))
    val pairs = perGroup
      .select(col("__g").as("g_a"), col("n_g").as("n_a"),
        col("r2_g").as("r2_a"))
      .join(perGroup.select(col("__g").as("g_b"), col("n_g").as("n_b"),
        col("r2_g").as("r2_b")), col("g_a") < col("g_b"))
      .crossJoin(broadcast(ties))
    // doubled-rank variance factor: 4 * (N(N+1)/12 - T/(12(N-1)));
    // the doubled mean difference carries the matching 2
    val s2 = ((dec(col("n")) * dec(col("n") + 1L)).cast("double") -
      col("tie_term").cast("double") / (col("n") - 1L).cast("double")) /
      lit(12.0)
    pairs.select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
      when(col("n") > 1L,
        (col("r2_a").cast("double") / col("n_a").cast("double") -
          col("r2_b").cast("double") / col("n_b").cast("double")) /
          (lit(2.0) * sqrt(s2 *
            (lit(1.0) / col("n_a").cast("double") +
              lit(1.0) / col("n_b").cast("double"))))).as("z"))
  }

  /** Benjamini-Hochberg FDR control over a battery of tests — the
    * multiple-comparisons step every fleet-wide monitoring sweep (one
    * test per segment x metric) needs before acting: find the largest
    * rank k with `p_(k) <= alpha * k / m` and reject exactly ranks
    * <= k (Benjamini & Hochberg 1995). Exact integers end to end:
    * p-values arrive as ppm, the step-up comparison is the
    * cross-multiplied `p_ppm * m <= alpha_ppm * rank` (no division at
    * all), and the reported per-rank critical value is one truncating
    * `alpha_ppm * rank div m`. Ties on p rank deterministically by
    * test id. Out-of-range p (outside [0, 1e6]) raises — a malformed
    * battery must fail loud, not silently control nothing.
    *
    * The rank window is single-partition over TESTS by design (a
    * step-up procedure is a global order statistic) and guarded by
    * `maxTests` — test batteries are segment-domain-sized, never
    * row-scale; at 100 TB the input to this operator is the bounded
    * OUTPUT of per-segment rollup tests.
    */
  def bhFdr(df: DataFrame, idCol: Column, pPpmCol: Column,
      alphaPpm: Long = 50000L, maxTests: Long = 1000000L): DataFrame = {
    require(alphaPpm >= 1 && alphaPpm < 1000000L, s"alphaPpm: $alphaPpm")
    require(maxTests >= 1, s"maxTests: $maxTests")
    val base = df.filter(pPpmCol.isNotNull)
      .select(idCol.cast("string").as("test_id"),
        pPpmCol.cast("long").as("p_ppm"))
      .withColumn("p_ppm",
        when(col("p_ppm") < 0L || col("p_ppm") > 1000000L,
          raise_error(concat(lit("bhFdr: p_ppm outside [0, 1e6] for test "),
            col("test_id"))).cast("long")).otherwise(col("p_ppm")))
    val w = Window.orderBy(col("p_ppm").asc, col("test_id").asc)
    val guard = when(row_number().over(w) > maxTests,
      raise_error(lit(s"bhFdr exceeded $maxTests tests — a step-up " +
        "procedure is a global order statistic; batteries are " +
        "segment-domain-sized by contract")).cast("long"))
      .otherwise(lit(0L))
    val ranked = base
      .withColumn("rank", row_number().over(w).cast("long") + guard)
      .pinLazy() // feeds the k rollup AND the output
    val m = ranked.agg(max(col("rank")).as("m"))
    val withM = ranked.crossJoin(broadcast(m))
    val k = withM
      .agg(coalesce(max(when(col("p_ppm") * col("m") <=
        lit(alphaPpm) * col("rank"), col("rank"))), lit(0L)).as("k"))
    withM.crossJoin(broadcast(k))
      .select(col("test_id"), col("p_ppm"), col("rank"), col("m"),
        call_function("div", lit(alphaPpm) * col("rank"), col("m"))
          .as("bh_critical_ppm"),
        (col("rank") <= col("k")).as("rejected"))
  }

  /** Krippendorff's alpha (nominal metric) — chance-corrected
    * inter-rater agreement that, unlike [[fleissKappa]], handles
    * MISSING ratings (units rated by any subset of raters) and any
    * number of raters per unit: the universal data-labeling QA
    * statistic (Krippendorff 2004). Nominal form:
    * `alpha = 1 - (n-1) * sum_u [sum_c n_uc(m_u - n_uc) / (m_u-1)]
    * / sum_c n_c(n - n_c)` over units with `m_u >= 2` pairable
    * ratings (n = total pairable ratings, n_c = pooled value counts).
    *
    * Exact: the per-unit `1/(m_u-1)` rationals are cleared by ONE
    * common scale `L = lcm(1..maxRaters-1)` (a compile-time constant;
    * maxRaters <= 24 keeps L and every product inside DECIMAL(38,0)
    * headroom), so `alpha_ppm = 1e6 - (1e6 * (n-1) * Do_L) div
    * (L * De_sum)` is one truncating division over exact integers —
    * negative alphas (worse than chance) come out of the subtraction,
    * never a negative division. Units exceeding maxRaters raise (the
    * guard doubles as the L-headroom contract). All ratings identical
    * -> De = 0 -> NULL alpha (agreement is undefined without
    * variation). Shape: (unit, value) and (unit) rollups, one value
    * rollup, three 1-row aggregates — fully keyed, no windows.
    */
  def krippendorffAlpha(df: DataFrame, unitCol: Column, valueCol: Column,
      maxRaters: Int = 20): DataFrame = {
    require(maxRaters >= 2 && maxRaters <= 24,
      s"maxRaters: $maxRaters (L = lcm(1..23) is the DECIMAL headroom cap)")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val L = (1L to (maxRaters - 1).toLong).reduce((a, b) => a / gcd(a, b) * b)
    val ratings = df.filter(unitCol.isNotNull && valueCol.isNotNull)
      .select(unitCol.as("__u"), valueCol.cast("string").as("__c"))
    val byUnitVal = ratings.groupBy(col("__u"), col("__c"))
      .agg(count(lit(1)).as("n_uc"))
      .pinLazy() // feeds unit sizes AND pooled counts
    val unitSize = byUnitVal.groupBy(col("__u"))
      .agg(sum(col("n_uc")).as("m_u"))
      .filter(col("m_u") >= 2L)
      .withColumn("m_u",
        when(col("m_u") > maxRaters.toLong,
          raise_error(concat(lit(s"krippendorffAlpha unit exceeds " +
            s"$maxRaters ratings: "), col("__u").cast("string")))
            .cast("long")).otherwise(col("m_u")))
    val doSum = byUnitVal.join(unitSize, "__u")
      .groupBy()
      .agg(
        // L div (m_u - 1) is exact (L = lcm of every possible m_u - 1)
        sum(dec(call_function("div", lit(L), col("m_u") - 1L)) *
          col("n_uc") * (col("m_u") - col("n_uc"))).as("do_l"),
        count_distinct(col("__u")).as("n_units"))
    val pooled = byUnitVal.join(unitSize.select(col("__u")), "__u")
      .groupBy(col("__c")).agg(sum(col("n_uc")).as("n_c"))
    val de = pooled.agg(sum(col("n_c")).as("n_ratings"),
      sum(dec(col("n_c")) * col("n_c")).as("__sq"))
      .withColumn("de_sum",
        dec(col("n_ratings")) * col("n_ratings") - col("__sq"))
    doSum.crossJoin(broadcast(de))
      .select(col("n_units"), col("n_ratings"),
        (lit(1000000L) - call_function("div",
          dec(lit(1000000L)) * (col("n_ratings") - 1L) * col("do_l"),
          nullif(dec(lit(L)) * col("de_sum"), dec(lit(0)))))
          .cast("long").as("alpha_ppm"))
  }

  /** Mood's median test — do k groups share a common median? Each group's
    * above/not-above-the-grand-median counts feed the exact chi-square
    * machinery ([[graft.operators.Features.chiSquareSummary]]); the grand
    * median is exact via the ungrouped distinct-value rollup (DOUBLED so
    * even-n midpoints stay integral; "above" means `2x > med2`, values at
    * the median count below — the conservative SciPy `ties='below'`
    * convention). Coarser but far more outlier-robust than
    * [[kruskalWallis]]. One row: (grand_med2, n_rows, dof, chi2_milli,
    * cramers_v).
    */
  def moodMedianTest(df: DataFrame, valueCol: Column,
      groupCol: Column): DataFrame = {
    val base = df.filter(valueCol.isNotNull && groupCol.isNotNull)
      .select(groupCol.as("__g"), valueCol.cast("long").as("__x"))
      .pinLazy() // feeds the median rollup AND the flag pass
    val ranks = graft.operators.Ranking.valueRanks(base, Nil, col("__x"))
    val ng = ranks.agg(sum(col("n_rows")).as("__n"))
    val lo = call_function("div", col("__n") + 1L, lit(2L))
    val hi = call_function("div", col("__n") + 2L, lit(2L))
    val med = ranks.crossJoin(ng)
      .agg(
        sum(when(col("rnk") <= lo && lo < col("rnk") + col("n_rows"),
          col("v")).otherwise(0L)).as("__vlo"),
        sum(when(col("rnk") <= hi && hi < col("rnk") + col("n_rows"),
          col("v")).otherwise(0L)).as("__vhi"))
      .select((col("__vlo") + col("__vhi")).as("grand_med2"))
    val flagged = base.crossJoin(broadcast(med))
    graft.operators.Features.chiSquareSummary(flagged, col("__g"),
      col("__x") * 2L > col("grand_med2"))
      .crossJoin(broadcast(med))
      .select(col("grand_med2"), col("n_rows"), col("dof"),
        col("chi2_milli"), col("cramers_v"))
  }

  /** Wald-Wolfowitz runs test — is a binary sequence random, or does it
    * streak? Runs `R = 1 + sum(sign changes)` over the declared order,
    * with `E[R] = 2*n1*n2/N + 1` and
    * `Var = 2*n1*n2*(2*n1*n2 - N) / (N^2*(N-1))`; z is the fixed IEEE
    * chain over the exact counts. The change-count window follows the
    * caller's order column (calendar-bounded by contract — daily signs,
    * not raw rows; guarded raise at `maxPoints`). One row:
    * (n1, n2, runs, z).
    */
  def runsTest(df: DataFrame, orderCol: Column, signCol: Column,
      maxPoints: Long = 1000000L): DataFrame = {
    require(maxPoints >= 2, s"maxPoints: $maxPoints")
    val base = df.filter(orderCol.isNotNull && signCol.isNotNull)
      .select(orderCol.cast("long").as("t"), signCol.cast("boolean").as("b"))
    val w = Window.orderBy(col("t").asc)
    val guard = when(row_number().over(w) > maxPoints,
      raise_error(lit(s"runsTest exceeded $maxPoints points — the sign " +
        "sequence must be a bounded series, not raw rows")).cast("long"))
      .otherwise(lit(0L))
    val runs = base
      .withColumn("__chg",
        when(lag(col("b"), 1).over(w).isNull ||
          lag(col("b"), 1).over(w) =!= col("b"), 1L).otherwise(0L) + guard)
      .agg(sum(when(col("b"), 0L).otherwise(1L)).as("n1"),
        sum(when(col("b"), 1L).otherwise(0L)).as("n2"),
        sum(col("__chg")).as("runs"))
    val n = col("n1") + col("n2")
    val p2 = dec(lit(2L)) * dec(col("n1")) * dec(col("n2"))
    runs.select(col("n1"), col("n2"), col("runs"),
      when(col("n1") > 0L && col("n2") > 0L && n > 2L &&
        p2 > dec(n),
        (col("runs").cast("double") -
          (p2.cast("double") / n.cast("double") + lit(1.0))) /
          sqrt((p2 * (p2 - dec(n))).cast("double") /
            (dec(n) * dec(n) * dec(n - 1L)).cast("double"))).as("z"))
  }

  /** Wilcoxon signed-rank test for PAIRED differences (the within-pair
    * sibling of [[mannWhitney]]): zero differences drop (the standard
    * convention), |d| ranks come DOUBLED and tie-averaged from the
    * distinct-value rollup, `W2+ = sum rank2(|d|) over d > 0` is exactly
    * twice the signed-rank statistic, and the tie-corrected z is the
    * fixed chain `(W2 - n(n+1)/2) / (2*sqrt((2n(n+1)(2n+1) - T)/48))`
    * with `T = sum(t^3 - t)`. One row: (n, w2_plus, tie_term, z).
    */
  def wilcoxonSignedRank(df: DataFrame, diffCol: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    val base = df.filter(diffCol.isNotNull)
      .select(diffCol.cast("long").as("d"))
      .filter(col("d") =!= 0L)
      .withColumn("a", abs(col("d")))
    val ranks = graft.operators.Ranking
      .valueRanks(base, Nil, col("a"), maxDistinct)
      .select(col("v").as("a"),
        (col("rnk") * 2L + col("n_rows") - 1L).as("r2"),
        col("n_rows"))
    val joined = base.join(ranks, "a")
    val agg0 = joined.agg(count(lit(1)).as("n"),
      sum(when(col("d") > 0L, col("r2")).otherwise(0L)).as("w2_plus"))
    val ties = ranks.agg(
      (sum(dec(col("n_rows")) * dec(col("n_rows")) * dec(col("n_rows"))) -
        sum(dec(col("n_rows")))).cast("long").as("tie_term"))
    val n = col("n")
    val varNum = dec(lit(2L)) * dec(n) * dec(n + 1L) *
      dec(lit(2L) * n + 1L) - dec(col("tie_term"))
    agg0.crossJoin(ties)
      .select(col("n"), col("w2_plus"), col("tie_term"),
        when(col("n") > 1L && varNum > dec(lit(0L)),
          (col("w2_plus").cast("double") -
            (dec(n) * dec(n + 1L)).cast("double") / lit(2.0)) /
            (lit(2.0) *
              sqrt(varNum.cast("double") / lit(48.0)))).as("z"))
  }

  /** Bland-Altman agreement limits between two measurement methods of the
    * same quantity (the method-comparison statistic: is the new
    * instrument interchangeable with the old?): mean difference (bias)
    * and `mean ± 1.96*sd` limits of agreement, from exact integer
    * moments of the SIGNED differences — `sd` uses the sample form
    * `sqrt((n*Q - S^2) / (n*(n-1)))`, every output a fixed IEEE chain.
    * One row: (n, sum_diff, bias, sd_diff, loa_low, loa_high).
    */
  def blandAltman(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val d = (aCol.cast("long") - bCol.cast("long"))
    val agg0 = df.filter(aCol.isNotNull && bCol.isNotNull)
      .select(d.as("d"))
      .agg(count(lit(1)).as("n"), sum(dec(col("d"))).as("__s"),
        sum(dec(col("d")) * col("d")).as("__q"))
    val bias = col("__s").cast("double") / col("n").cast("double")
    val sd = sqrt(
      (dec(col("n")) * col("__q") - col("__s") * col("__s")).cast("double") /
        (dec(col("n")) * dec(col("n") - 1L)).cast("double"))
    agg0.select(col("n"), col("__s").cast("long").as("sum_diff"),
      when(col("n") > 0L, bias).as("bias"),
      when(col("n") > 1L, sd).as("sd_diff"),
      when(col("n") > 1L, bias - lit(1.96) * sd).as("loa_low"),
      when(col("n") > 1L, bias + lit(1.96) * sd).as("loa_high"))
  }

  /** First-order partial correlation `r_xy.z` — the x-y association with
    * the shared driver z linearly removed (the "is this correlation just
    * both riding z" audit): the three pairwise Pearson correlations come
    * from ONE scan of exact DECIMAL moments, each a fixed IEEE chain, and
    * `r_xy.z = (r_xy - r_xz*r_yz) / (sqrt(1-r_xz^2)*sqrt(1-r_yz^2))` is a
    * second fixed chain over those — mirrored verbatim by the oracle. One
    * row: (n, r_xy, r_xz, r_yz, r_xy_z); NULL when any variance is zero
    * or a control correlation is ±1.
    */
  def partialCorrelation(df: DataFrame, xCol: Column, yCol: Column,
      zCol: Column): DataFrame = {
    val base = df.filter(xCol.isNotNull && yCol.isNotNull && zCol.isNotNull)
      .select(xCol.cast("long").as("x"), yCol.cast("long").as("y"),
        zCol.cast("long").as("z"))
    val m = base.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("z"))).as("sz"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("y")) * col("y")).as("syy"),
      sum(dec(col("z")) * col("z")).as("szz"),
      sum(dec(col("x")) * col("y")).as("sxy"),
      sum(dec(col("x")) * col("z")).as("sxz"),
      sum(dec(col("y")) * col("z")).as("syz"))
    def r(sab: Column, sa: Column, sb: Column, saa: Column,
        sbb: Column): Column = {
      val va = dec(col("n")) * saa - sa * sa
      val vb = dec(col("n")) * sbb - sb * sb
      when(va > dec(lit(0L)) && vb > dec(lit(0L)),
        (dec(col("n")) * sab - sa * sb).cast("double") /
          (sqrt(va.cast("double")) * sqrt(vb.cast("double"))))
    }
    m.select(col("n"),
      r(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy")).as("r_xy"),
      r(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz")).as("r_xz"),
      r(col("syz"), col("sy"), col("sz"), col("syy"), col("szz")).as("r_yz"))
      .withColumn("r_xy_z",
        when(col("r_xy").isNotNull && col("r_xz").isNotNull &&
          col("r_yz").isNotNull &&
          abs(col("r_xz")) < 1.0 && abs(col("r_yz")) < 1.0,
          (col("r_xy") - col("r_xz") * col("r_yz")) /
            (sqrt(lit(1.0) - col("r_xz") * col("r_xz")) *
              sqrt(lit(1.0) - col("r_yz") * col("r_yz")))))
  }

  /** Cronbach's alpha — internal-consistency reliability of a k-item
    * scale (do the items measure one construct): over COMPLETE subjects
    * (all k items present, the [[friedman]] contract),
    * `alpha = k/(k-1) * (1 - sum_i V_i / V_total)` with every variance in
    * the common-n numerator form `n*Q - S^2` so the ratio is one exact
    * DECIMAL fraction and alpha a fixed IEEE chain. One row:
    * (n_subjects, k, alpha); NULL when the total variance is zero or
    * k < 2.
    */
  def cronbachAlpha(df: DataFrame, subjectCol: Column, itemCol: Column,
      valueCol: Column): DataFrame = {
    val cells = df
      .filter(subjectCol.isNotNull && itemCol.isNotNull && valueCol.isNotNull)
      .groupBy(subjectCol.as("__s"), itemCol.as("__i"))
      .agg(sum(valueCol.cast("long")).as("y"))
    val k = cells.agg(countDistinct(col("__i")).as("k"))
    val complete = cells
      .withColumn("__sk", count(lit(1)).over(Window.partitionBy(col("__s"))))
      .crossJoin(broadcast(k))
      .filter(col("__sk") === col("k"))
      .pinLazy() // feeds the per-item AND per-subject rollups
    val items = complete.groupBy(col("__i"))
      .agg(count(lit(1)).as("n"), sum(dec(col("y"))).as("s"),
        sum(dec(col("y")) * col("y")).as("q"))
      .agg(max(col("n")).as("n"),
        sum(dec(col("n")) * col("q") - col("s") * col("s")).as("__vi"))
    val totals = complete.groupBy(col("__s"), col("k"))
      .agg(sum(col("y")).as("tot"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("__n2"), sum(dec(col("tot"))).as("st"),
        sum(dec(col("tot")) * col("tot")).as("qt"))
      .select(col("k"),
        (dec(col("__n2")) * col("qt") - col("st") * col("st")).as("__vt"))
    items.crossJoin(totals)
      .select(col("n").as("n_subjects"), col("k"),
        when(col("k") > 1L && col("__vt") > dec(lit(0L)),
          (col("k").cast("double") / (col("k") - 1L).cast("double")) *
            (lit(1.0) -
              col("__vi").cast("double") / col("__vt").cast("double")))
          .as("alpha"))
  }

  /** Raking / iterative proportional fitting: calibrate sample cell
    * weights to KNOWN row and column population margins (the survey-
    * weighting / training-mixture-calibration primitive). Weights live in
    * micro-units and each half-step is the truncating integer rescale
    * `w' = w * (target*1e6) div current_margin_sum` — a declared
    * fixed-point model both engines replay bit-exactly (the
    * [[kaplanMeier]] discipline applied to a 2-D fixed point). A fixed
    * `iterations` count of row-then-column sweeps (IPF converges
    * geometrically; the residual after the last COLUMN step sits on the
    * row margins and is part of the declared output). Cells, margins, and
    * joins are all category-domain-sized.
    *
    * `rowTargets`/`colTargets`: (x, target) / (y, target) LONG counts.
    * Cells absent from a target side are dropped (no defined calibration
    * for them) — emit-and-audit upstream if that matters.
    */
  def rakingIpf(sample: DataFrame, xCol: Column, yCol: Column,
      rowTargets: DataFrame, colTargets: DataFrame,
      iterations: Int = 4): DataFrame = {
    require(iterations >= 1 && iterations <= 50, s"iterations: $iterations")
    val cells = sample.filter(xCol.isNotNull && yCol.isNotNull)
      .groupBy(xCol.as("x"), yCol.as("y"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(rowTargets.select(col("x"), col("target").as("rt"))),
        "x")
      .join(broadcast(colTargets.select(col("y"), col("target").as("ct"))),
        "y")
      // pin the sample rollup: every sweep below reads it through two arms
      .pinLazy()
    var w = cells.withColumn("w", col("n") * 1000000L)
    for (_ <- 1 to iterations) {
      val rs = w.groupBy(col("x")).agg(sum(col("w")).as("__rs"))
      w = w.join(rs, "x")
        .withColumn("w", call_function("div",
          dec(col("w")) * dec(col("rt")) * 1000000L, dec(col("__rs")))
          .cast("long"))
        .drop("__rs")
      val cs = w.groupBy(col("y")).agg(sum(col("w")).as("__cs"))
      w = w.join(cs, "y")
        .withColumn("w", call_function("div",
          dec(col("w")) * dec(col("ct")) * 1000000L, dec(col("__cs")))
          .cast("long"))
        .drop("__cs")
        // pin each sweep: `w join agg(w)` doubles the unpinned lineage per
        // half-step — 2^(2*iters) base-scan replays by the last sweep (the
        // q217/q221 recompute flaw, measured 16.4 s -> ~1 s at sf0.1).
        // The pinned frame is category-domain-sized; the checkpoint is
        // trivially cheap and keeps every sweep evaluated exactly once.
        .pinLazy()
    }
    w.select(col("x"), col("y"), col("n").as("n_sample"),
      col("w").as("weight_micro"))
  }

  /** Kish effective sample size + design effect per group — the standard
    * "how much did weighting cost me" audit run on every weighted survey
    * or raked ([[rakingIpf]]) sample: `neff = (sum w)^2 / sum w^2` and
    * `deff = n * sum w^2 / (sum w)^2` (Kish 1965). Uniform weights give
    * neff = n, deff = 1; concentration in few rows collapses neff toward
    * the count of dominant rows. Exact: weights are fixed-point
    * (milli-units), both moments DECIMAL(38,0) rollups, each output ONE
    * truncating integral division (`neff_milli`, `deff_ppm`). Rows with
    * NULL or non-positive weight are excluded (a non-positive weight is
    * a protocol error upstream, not a sample member). One keyed
    * partial-agg shuffle; trivially 100 TB-shaped.
    */
  def kishEffectiveSample(df: DataFrame, groupCols: Seq[String],
      weightMilliCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "kishEffectiveSample needs groupCols — " +
      "wrap a global audit in a constant group")
    val gcols = groupCols.map(col)
    df.filter(weightMilliCol.isNotNull && weightMilliCol > 0)
      .select(gcols :+ weightMilliCol.cast("long").as("__w"): _*)
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__w")).as("sum_w_milli"),
        sum(dec(col("__w")) * col("__w")).as("__sww"))
      .withColumn("neff_milli",
        call_function("div",
          dec(col("sum_w_milli")) * col("sum_w_milli") * 1000L,
          col("__sww")).cast("long"))
      .withColumn("deff_ppm",
        call_function("div", col("__sww") * col("n") * 1000000L,
          dec(col("sum_w_milli")) * col("sum_w_milli")).cast("long"))
      .drop("__sww")
  }

  /** Ordinal-by-ordinal association: Goodman-Kruskal gamma, Kendall
    * tau-b, and Somers' D (both directions) from ONE concordant/
    * discordant pair accounting over the contingency-cell rollup —
    * `C = sum n_ij * (mass strictly below-left)`, `D = likewise
    * below-right`, counted via a cell self-join that is CATEGORY-DOMAIN
    * sized (the [[graft.operators.Features.chiSquareCells]] contract:
    * cells, never rows, pair up — 50x50 domains mean 6M cell pairs, not
    * N^2 row pairs). Tie terms `Tx = sum r_i(r_i-1)/2`, `Ty` come from
    * the marginals. gamma = (C-D)/(C+D); tau_b divides by the geometric
    * mean of tie-adjusted pair counts; Somers' D(y|x) by `P0 - Tx`
    * alone. All numerators are SIGNED, so every statistic is a single
    * IEEE division (doubled forms cancel). One row.
    */
  def ordinalAssociation(df: DataFrame, xCol: Column,
      yCol: Column): DataFrame = {
    val cells = df.filter(xCol.isNotNull && yCol.isNotNull)
      .groupBy(xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .agg(count(lit(1)).as("c"))
      .pinLazy() // feeds both join arms and both marginals
    val pairs = cells.select(col("x").as("xa"), col("y").as("ya"),
      col("c").as("ca"))
      .join(cells.select(col("x").as("xb"), col("y").as("yb"),
        col("c").as("cb")), col("xa") < col("xb"))
      .agg(
        sum(when(col("ya") < col("yb"), dec(col("ca")) * col("cb"))
          .otherwise(dec(lit(0L)))).as("cc"),
        sum(when(col("ya") > col("yb"), dec(col("ca")) * col("cb"))
          .otherwise(dec(lit(0L)))).as("dd"))
    val xt = cells.groupBy(col("x")).agg(sum(col("c")).as("r"))
      .agg(sum(col("r")).as("n"),
        sum(dec(col("r")) * (col("r") - 1L)).as("tx2"))
    val yt = cells.groupBy(col("y")).agg(sum(col("c")).as("cm"))
      .agg(sum(dec(col("cm")) * (col("cm") - 1L)).as("ty2"))
    val p02 = dec(col("n")) * dec(col("n") - 1L) // doubled P0
    val num = (col("cc") - col("dd")) * dec(lit(2L)) // doubled C-D
    pairs.crossJoin(xt).crossJoin(yt)
      .select(col("n"),
        col("cc").cast("long").as("c_pairs"),
        col("dd").cast("long").as("d_pairs"),
        when(col("cc") + col("dd") > dec(lit(0L)),
          (col("cc") - col("dd")).cast("double") /
            (col("cc") + col("dd")).cast("double")).as("gamma"),
        when(p02 > col("tx2") && p02 > col("ty2"),
          num.cast("double") /
            (sqrt((p02 - col("tx2")).cast("double")) *
              sqrt((p02 - col("ty2")).cast("double")))).as("tau_b"),
        when(p02 > col("tx2"),
          num.cast("double") / (p02 - col("tx2")).cast("double"))
          .as("somers_d_yx"),
        when(p02 > col("ty2"),
          num.cast("double") / (p02 - col("ty2")).cast("double"))
          .as("somers_d_xy"))
  }

  /** Quadratic-weighted kappa for ORDINAL raters (the essay-scoring /
    * LLM-judge agreement metric): disagreement weights `w_ij = (i-j)^2`
    * penalize by distance, so near-misses cost little.
    * `qwk = 1 - N * sum(w*O) / sum(w * r_i * c_j)` over the contingency
    * cells and marginals — both sums exact DECIMAL, one IEEE division.
    * Identical ratings give exactly 1; NULL when the expected-weight sum
    * is 0 (a rater is constant). Category-domain-sized throughout.
    */
  def weightedKappa(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.filter(aCol.isNotNull && bCol.isNotNull)
      .groupBy(aCol.cast("long").as("ra"), bCol.cast("long").as("rb"))
      .agg(count(lit(1)).as("c"))
      .pinLazy()
    val w = dec(col("ra") - col("rb")) * dec(col("ra") - col("rb"))
    val obs = cells.agg(sum(col("c")).as("n"),
      sum(w * col("c")).as("wo"))
    val rowT = cells.groupBy(col("ra")).agg(sum(col("c")).as("rt"))
    val colT = cells.groupBy(col("rb")).agg(sum(col("c")).as("ct"))
    val we = rowT.crossJoin(colT)
      .agg(sum(dec(col("ra") - col("rb")) * dec(col("ra") - col("rb")) *
        dec(col("rt")) * col("ct")).as("we"))
    obs.crossJoin(we)
      .select(col("n"), col("wo").cast("long").as("w_observed"),
        col("we").cast("long").as("w_expected_n"),
        when(col("we") > dec(lit(0L)),
          lit(1.0) - (dec(col("n")) * col("wo")).cast("double") /
            col("we").cast("double")).as("qwk"))
  }

  /** Cochran's Q — do k BINARY treatments have equal success rates,
    * judged within blocks (the dichotomous Friedman; k = 2 reduces to
    * McNemar): `Q = (k-1) * (k*sum C_j^2 - T^2) / (k*T - sum R_i^2)`
    * with `C_j` per-treatment and `R_i` per-block success counts,
    * `T = sum C_j`. Exact integers end to end, one IEEE division. Only
    * COMPLETE blocks enter ([[friedman]]'s contract); blocks that are
    * all-success or all-failure contribute nothing (their R_i terms
    * cancel by algebra — they stay in, the formula absorbs them). NULL
    * Q when the denominator is 0 (every block degenerate).
    */
  def cochranQ(df: DataFrame, blockCol: Column, treatmentCol: Column,
      successCol: Column): DataFrame = {
    val cells = df
      .filter(blockCol.isNotNull && treatmentCol.isNotNull &&
        successCol.isNotNull)
      .groupBy(blockCol.as("__b"), treatmentCol.as("__t"))
      .agg(max(when(successCol, 1L).otherwise(0L)).as("s"))
    val k = cells.agg(countDistinct(col("__t")).as("k"))
    val complete = cells
      .withColumn("__bk", count(lit(1)).over(Window.partitionBy(col("__b"))))
      .crossJoin(broadcast(k))
      .filter(col("__bk") === col("k"))
    val byTreat = complete.groupBy(col("__t"), col("k"))
      .agg(sum(col("s")).as("cj"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("__kchk"), sum(col("cj")).as("t"),
        sum(dec(col("cj")) * col("cj")).as("sc2"))
    val byBlock = complete.groupBy(col("__b"))
      .agg(max(col("k")).as("__k2"), sum(col("s")).as("ri"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(dec(col("ri")) * col("ri")).as("sr2"))
    val den = dec(col("k")) * dec(col("t")) - col("sr2")
    byTreat.crossJoin(byBlock)
      .select(col("n_blocks"), col("k"), col("t").as("n_successes"),
        when(den > dec(lit(0L)),
          (dec(col("k") - 1L) *
            (dec(col("k")) * col("sc2") - dec(col("t")) * dec(col("t"))))
            .cast("double") / den.cast("double")).as("q_stat"))
  }

  /** Intraclass correlation ICC(1,1) — what share of total variance is
    * BETWEEN groups (how consistent are a customer's order sizes; how
    * much do raters agree): from the [[anovaF]] components,
    * `icc = (MSB - MSW) / (MSB + (n0 - 1)*MSW)` with
    * `n0 = (N - sum(n_g^2)/N) / (k-1)` the unbalanced-design average
    * group size (Snedecor & Cochran). ssb/ssw follow anovaF's exact
    * truncating convention (same 63-bit unit contract); n0 and icc are a
    * fixed IEEE chain over those exact operands, mirrored verbatim. One
    * row: (n, k, ssb, ssw, n0, icc); NULL icc for degenerate designs.
    */
  def icc(df: DataFrame, valueCol: Column, groupCol: Column): DataFrame = {
    val g = df.filter(valueCol.isNotNull && groupCol.isNotNull)
      .groupBy(groupCol.as("__g"))
      .agg(count(lit(1)).as("n_g"),
        sum(dec(valueCol)).as("s_g"),
        sum(dec(valueCol) * valueCol).as("q_g"))
      .withColumn("bterm",
        call_function("div", col("s_g") * col("s_g"), dec(col("n_g"))))
    val agg0 = g.agg(
      sum(col("n_g")).as("n"), count(lit(1)).as("k"),
      sum(col("s_g")).as("__s"), sum(col("q_g")).as("__q"),
      sum(dec(col("bterm"))).as("__b"),
      sum(dec(col("n_g")) * col("n_g")).cast("long").as("__sumsq"))
      .select(col("n"), col("k"), col("__sumsq"),
        greatest(lit(0L),
          (col("__b") - dec(call_function("div", col("__s") * col("__s"),
            dec(col("n"))))).cast("long")).as("ssb"),
        (col("__q") - col("__b")).cast("long").as("ssw"))
    val msb = col("ssb").cast("double") / (col("k") - 1L).cast("double")
    val msw = col("ssw").cast("double") / (col("n") - col("k")).cast("double")
    val n0 = (col("n").cast("double") -
      col("__sumsq").cast("double") / col("n").cast("double")) /
      (col("k") - 1L).cast("double")
    agg0.select(col("n"), col("k"), col("ssb"), col("ssw"),
      when(col("k") > 1L, n0).as("n0"),
      when(col("k") > 1L && col("n") > col("k") && col("ssw") > 0L,
        (msb - msw) / (msb + (n0 - lit(1.0)) * msw)).as("icc"))
  }

  /** Friedman test for k treatments over b blocks (the repeated-measures
    * rank test: does ANY treatment differ, judging WITHIN each block so
    * block-level shifts cancel). Tie-averaged DOUBLED ranks within each
    * block keep everything integral; with `R2_j` the doubled rank sum of
    * treatment j, `A2 = sum(r2^2)` and `C2 = b*k*(k+1)^2`, the
    * tie-corrected statistic is
    * `chi2 = (k-1) * sum_j (R2_j - b*(k+1))^2 / (A2 - C2)` — one IEEE
    * division over exact DECIMAL operands (the doubled forms are exactly
    * 4x the textbook A/C, so the ratio is unchanged). Only COMPLETE
    * blocks (all k treatments present) enter — an incomplete block has no
    * within-block ranking; `n_blocks` reports how many were used. NULL
    * chi2 when every block is fully tied (A2 = C2).
    *
    * Shape: one (block, treatment) rollup; ranking windows partition on
    * the block (k-bounded — fully parallel); one treatment rollup.
    */
  def friedman(df: DataFrame, blockCol: Column, treatmentCol: Column,
      valueCol: Column): DataFrame = {
    val cells = df
      .filter(blockCol.isNotNull && treatmentCol.isNotNull &&
        valueCol.isNotNull)
      .groupBy(blockCol.as("__b"), treatmentCol.as("__t"))
      .agg(sum(valueCol.cast("long")).as("y"))
    val k = cells.agg(countDistinct(col("__t")).as("k"))
    val complete = cells
      .withColumn("__bk", count(lit(1)).over(Window.partitionBy(col("__b"))))
      .crossJoin(broadcast(k))
      .filter(col("__bk") === col("k"))
    val byBlock = Window.partitionBy(col("__b")).orderBy(col("y"))
    val tieCnt = count(lit(1))
      .over(Window.partitionBy(col("__b"), col("y")))
    val ranked = complete
      .withColumn("r2", rank().over(byBlock) * 2L + tieCnt - 1L)
    val perTreatment = ranked.groupBy(col("__t"), col("k"))
      .agg(count(lit(1)).as("b"), sum(col("r2")).as("r2_sum"),
        sum(dec(col("r2")) * col("r2")).as("a2_part"))
    perTreatment
      .groupBy(col("k"))
      .agg(max(col("b")).as("b"),
        sum(col("a2_part")).as("__a2"),
        sum(dec(col("r2_sum") - (col("b") * (col("k") + 1L))) *
          dec(col("r2_sum") - (col("b") * (col("k") + 1L)))).as("__num"))
      .select(col("b").as("n_blocks"), col("k"),
        (col("__a2") -
          dec(col("b")) * dec(col("k")) * dec(col("k") + 1L) *
            dec(col("k") + 1L)).cast("long").as("tie_spread"),
        when(col("__a2") >
          dec(col("b")) * dec(col("k")) * dec(col("k") + 1L) *
            dec(col("k") + 1L),
          (dec(col("k") - 1L) * col("__num")).cast("double") /
            (col("__a2") - dec(col("b")) * dec(col("k")) *
              dec(col("k") + 1L) * dec(col("k") + 1L)).cast("double"))
          .as("chi2"))
  }

  /** Page's L trend test — [[friedman]]'s ORDERED-alternative sibling
    * (does the metric rise monotonically across treatments, judged
    * within blocks), exactly as [[jonckheereTerpstra]] is
    * [[kruskalWallis]]'s: `L = sum_j j * R_j` over within-block
    * tie-averaged DOUBLED ranks and the declared treatment order.
    * `E2[L2] = b*k*(k+1)^2/2` and the classical no-tie variance
    * `Var[L] = b*k^2*(k+1)*(k^2-1)/144` (ties average into the ranks;
    * the variance keeps the standard form — the usual practice) give the
    * fixed chain `z = (L2 - E2) / (2*sqrt(varNum/144))`. Complete blocks
    * only. One row: (n_blocks, k, l2, z).
    */
  def pageTrend(df: DataFrame, blockCol: Column, treatmentOrdCol: Column,
      valueCol: Column): DataFrame = {
    val cells = df
      .filter(blockCol.isNotNull && treatmentOrdCol.isNotNull &&
        valueCol.isNotNull)
      .groupBy(blockCol.as("__b"), treatmentOrdCol.cast("long").as("__t"))
      .agg(sum(valueCol.cast("long")).as("y"))
    val k = cells.agg(countDistinct(col("__t")).as("k"))
    val complete = cells
      .withColumn("__bk", count(lit(1)).over(Window.partitionBy(col("__b"))))
      .crossJoin(broadcast(k))
      .filter(col("__bk") === col("k"))
    val byBlock = Window.partitionBy(col("__b")).orderBy(col("y"))
    val tieCnt = count(lit(1))
      .over(Window.partitionBy(col("__b"), col("y")))
    val ranked = complete
      .withColumn("r2", rank().over(byBlock) * 2L + tieCnt - 1L)
      // the treatment SCORE is its 1-based position in the declared
      // order, not the raw encoding (a 10/20/30 dose column must weigh
      // 1/2/3)
      .withColumn("j",
        dense_rank().over(Window.orderBy(col("__t"))).cast("long"))
    val agg0 = ranked.groupBy(col("k"))
      .agg((countDistinct(col("__b"))).as("n_blocks"),
        sum(dec(col("j")) * col("r2")).cast("long").as("l2"))
    val e2 = dec(col("n_blocks")) * dec(col("k")) * dec(col("k") + 1L) *
      dec(col("k") + 1L)
    val varNum = dec(col("n_blocks")) * dec(col("k")) * dec(col("k")) *
      dec(col("k") + 1L) * (dec(col("k")) * dec(col("k")) - dec(lit(1L)))
    agg0.select(col("n_blocks"), col("k"), col("l2"),
      when(col("k") > 1L && col("n_blocks") > 0L,
        (dec(col("l2")) * 2L - e2).cast("double") / lit(2.0) /
          (lit(2.0) * sqrt(varNum.cast("double") / lit(144.0)))).as("z"))
  }

  /** Bowker's symmetry test — [[mcnemar]]'s k x k generalization for
    * paired ORDINAL/categorical raters: under symmetry every off-diagonal
    * pair satisfies `n_ij = n_ji`, and
    * `chi2 = sum_{i<j} (n_ij - n_ji)^2 / (n_ij + n_ji)` over pairs with
    * any mass. Each pair's term is milli-truncated (non-negative) and
    * integer-summed — no float summation order. dof = pairs with mass.
    * One row: (n, n_pairs, chi2_milli). Cell pairing is
    * category-domain-sized.
    */
  def bowkerSymmetry(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.filter(aCol.isNotNull && bCol.isNotNull)
      .groupBy(aCol.cast("long").as("ra"), bCol.cast("long").as("rb"))
      .agg(count(lit(1)).as("c"))
      .pinLazy() // feeds both pairing arms and the total
    val pairs = cells.filter(col("ra") < col("rb"))
      .select(col("ra"), col("rb"), col("c").as("c_ij"))
      .join(cells.filter(col("ra") > col("rb"))
        .select(col("rb").as("ra"), col("ra").as("rb"), col("c").as("c_ji")),
        Seq("ra", "rb"), "full")
      .select(coalesce(col("c_ij"), lit(0L)).as("c_ij"),
        coalesce(col("c_ji"), lit(0L)).as("c_ji"))
      .filter(col("c_ij") + col("c_ji") > 0L)
    val terms = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(call_function("div",
        (col("c_ij") - col("c_ji")) * (col("c_ij") - col("c_ji")) * 1000L,
        col("c_ij") + col("c_ji"))).as("chi2_milli"))
    cells.agg(sum(col("c")).as("n")).crossJoin(terms)
      .select(col("n"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("chi2_milli"), lit(0L)).as("chi2_milli"))
  }

  /** Jonckheere-Terpstra test for an ORDERED alternative across k groups
    * (dose-response: is the metric monotone in the group order?) — the
    * k-sample generalization of [[mannWhitney]] that sums pairwise U
    * statistics over every ordered group pair, computed WITHOUT pairwise
    * group joins: on the (value, group) rollup, two cumulative passes
    * (one over values within each group, one over ordered groups within
    * each value) give every cell its lower-group strictly-below and tied
    * counts, and `JT2 = sum cell * (2*below + ties)` is exactly twice the
    * JT statistic. Mean `E2 = (N^2 - sum n_g^2) / 2` and the THREE-TERM
    * tie-corrected variance (Lehmann 1975) accumulate exactly in
    * DECIMAL over the common denominator `72*N(N-1)(N-2)`; z is the
    * fixed chain `(JT2 - E2) / (2*sqrt(varNum/varDen))`. One row:
    * (n, k, jt2, z).
    *
    * `groupOrdCol` must be an integer encoding of the hypothesized order.
    * Distinct values stream through per-group windows (parallel) and a
    * per-value group window (k-bounded); nothing joins pairwise.
    */
  def jonckheereTerpstra(df: DataFrame, valueCol: Column,
      groupOrdCol: Column): DataFrame = {
    val base = df.filter(valueCol.isNotNull && groupOrdCol.isNotNull)
      .groupBy(valueCol.as("v"), groupOrdCol.cast("long").as("g"))
      .agg(count(lit(1)).as("c"))
      // the sparse rollup feeds the densified grid AND both tie/size
      // rollups — pin it (the q217/q221 recompute discipline)
      .pinLazy()
    // DENSIFY to the full (value x group) grid before the cumulative
    // passes: a group's running total must be visible at values where it
    // has no observation of its own, or the per-value lower-group prefix
    // silently reads 0 (on all-distinct data that zeroes the whole
    // statistic). Grid size = distinct values x k — the k-fold cost of
    // the distinct-value rollup the module already bounds.
    val grid = base.select(col("v")).distinct()
      .crossJoin(base.select(col("g")).distinct())
    val cells = grid.join(base, Seq("v", "g"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val byGroup = Window.partitionBy(col("g")).orderBy(col("v"))
    val cum = cells.withColumn("cum_g", sum(col("c")).over(byGroup))
    // per value, prefix over ORDERED groups of (strictly-below, tied)
    val byValue = Window.partitionBy(col("v")).orderBy(col("g"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cell = cum
      .withColumn("below_lower",
        coalesce(sum(col("cum_g") - col("c")).over(byValue), lit(0L)))
      .withColumn("tied_lower", coalesce(sum(col("c")).over(byValue), lit(0L)))
    val jt = cell.agg(
      sum(col("c")).as("n"),
      countDistinct(col("g")).as("k"),
      sum(dec(col("c")) * dec(col("below_lower") * 2L + col("tied_lower")))
        .cast("long").as("jt2"))
    val groupSizes = base.groupBy(col("g")).agg(sum(col("c")).as("ng"))
      .agg(
        sum(dec(col("ng")) * col("ng")).as("sn2"),
        sum(dec(col("ng")) * (col("ng") - 1L) * (lit(2L) * col("ng") + 5L))
          .as("sn25"),
        sum(dec(col("ng")) * (col("ng") - 1L) * (col("ng") - 2L)).as("sn3"),
        sum(dec(col("ng")) * (col("ng") - 1L)).as("snn"))
    val ties = base.groupBy(col("v")).agg(sum(col("c")).as("t"))
      .agg(
        sum(dec(col("t")) * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
          .as("st25"),
        sum(dec(col("t")) * (col("t") - 1L) * (col("t") - 2L)).as("st3"),
        sum(dec(col("t")) * (col("t") - 1L)).as("stt"))
    val n = col("n")
    val nn = dec(n) * dec(n - 1L)
    val nnn = nn * dec(n - 2L)
    // common denominator 72 * N(N-1)(N-2); the three Lehmann terms scale
    // by N(N-1)(N-2)/..., 2, and 9(N-2) respectively
    val varNum =
      (dec(n) * dec(n - 1L) * dec(lit(2L) * n + 5L) - col("sn25") -
        col("st25")) * nnn +
        col("sn3") * col("st3") * dec(lit(2L)) +
        col("snn") * col("stt") * dec(lit(9L)) * dec(n - 2L)
    val varDen = dec(lit(72L)) * nnn
    val e2 = (dec(n) * dec(n) - col("sn2")).cast("double") / lit(2.0)
    jt.crossJoin(groupSizes).crossJoin(ties)
      .select(col("n"), col("k"), col("jt2"),
        when(col("k") > 1L && col("n") > 2L && varNum > dec(lit(0L)),
          (col("jt2").cast("double") - e2) /
            (lit(2.0) * sqrt(varNum.cast("double") / varDen.cast("double"))))
          .as("z"))
  }

  /** Hodges-Lehmann shift estimator between two samples — the robust
    * effect SIZE that pairs with [[mannWhitney]]'s yes/no (the median of
    * all cross-pair differences `b - a`): computed over BINNED values
    * (the caller quantizes — unbinned pairwise diffs are quadratic in
    * distinct values), so the cross join is BIN-DOMAIN sized, weights
    * `c_a * c_b` carry the multiplicity exactly, and the weighted median
    * uses the DOUBLED even-total convention (`hl2 = d@lo + d@hi`). One
    * row: (n_a, n_b, hl2, hl_milli = hl2 * 500). The diff rollup's
    * cumulative window is single-partition over distinct diffs —
    * raise-guarded at `maxBins^2` scale via `maxDiffs`.
    */
  def hodgesLehmannShift(df: DataFrame, binCol: Column, inB: Column,
      maxDiffs: Long = 4000000L): DataFrame = {
    require(maxDiffs >= 1, s"maxDiffs: $maxDiffs")
    val base = df.filter(binCol.isNotNull && inB.isNotNull)
      .select(binCol.cast("long").as("v"), inB.as("b"))
    val va = base.filter(!col("b")).groupBy(col("v"))
      .agg(count(lit(1)).as("ca"))
    val vb = base.filter(col("b")).groupBy(col("v"))
      .agg(count(lit(1)).as("cb"))
    val diffs = va.select(col("v").as("av"), col("ca"))
      .crossJoin(vb.select(col("v").as("bv"), col("cb")))
      .groupBy((col("bv") - col("av")).as("d"))
      .agg(sum(dec(col("ca")) * col("cb")).cast("long").as("w"))
    val wOrd = Window.orderBy(col("d").asc)
    val guard = when(row_number().over(wOrd) > maxDiffs,
      raise_error(lit(s"hodgesLehmannShift exceeded $maxDiffs distinct " +
        "diffs — bin coarser first")).cast("long")).otherwise(lit(0L))
    val ranked = diffs
      .withColumn("cum", sum(col("w")).over(wOrd) + guard)
      .withColumn("rnk", col("cum") - col("w") + 1L)
    val tot = ranked.agg(max(col("cum")).as("__w"))
    val lo = call_function("div", col("__w") + 1L, lit(2L))
    val hi = call_function("div", col("__w") + 2L, lit(2L))
    val med = ranked.crossJoin(broadcast(tot))
      .agg(
        sum(when(col("rnk") <= lo && lo <= col("cum"), col("d"))
          .otherwise(0L)).as("__dlo"),
        sum(when(col("rnk") <= hi && hi <= col("cum"), col("d"))
          .otherwise(0L)).as("__dhi"))
      .select((col("__dlo") + col("__dhi")).as("hl2"))
    val counts = base.agg(
      sum(when(col("b"), 0L).otherwise(1L)).as("n_a"),
      sum(when(col("b"), 1L).otherwise(0L)).as("n_b"))
    counts.crossJoin(med)
      .select(col("n_a"), col("n_b"), col("hl2"),
        (col("hl2") * 500L).as("hl_milli"))
  }

  /** Kaplan-Meier with Greenwood 95% bands: the [[kaplanMeier]] fold
    * additionally carries the Greenwood variance factor
    * `g_pico += d * 1e12 div (r * (r - d))` (exact truncating integers;
    * a step where everyone at risk dies drives the factor infinite — the
    * fold parks a -1 sentinel and the bands go NULL from there). The
    * plain (untransformed) Greenwood interval
    * `surv ± 1.96 * surv * sqrt(g/1e12)` is emitted as fixed IEEE chains
    * in ppm — unclamped, as the textbook form is. One row per event
    * time: (duration, at_risk, deaths, surv_ppm, g_pico, ci_low_ppm,
    * ci_high_ppm).
    */
  def kaplanMeierGreenwood(df: DataFrame, durationCol: Column,
      censoredCol: Column, maxSteps: Int = 100000): DataFrame = {
    val steps = survivalSteps(df, durationCol, censoredCol)
    val folded = steps
      .agg(sort_array(collect_list(struct(col("dur"), col("at_risk"),
        col("deaths")))).as("st"))
      .select(explode(expr(
        s"""CASE WHEN size(st) > $maxSteps THEN
           |  raise_error(concat('kaplanMeierGreenwood exceeded $maxSteps event times — ',
           |    'durations must be calendar-bounded integers'))
           |ELSE
           |  aggregate(st,
           |    CAST(array() AS array<struct<dur:bigint,at_risk:bigint,deaths:bigint,
           |      surv:bigint,g:bigint>>),
           |    (acc, x) -> array_append(acc, named_struct(
           |      'dur', x.dur, 'at_risk', x.at_risk, 'deaths', x.deaths,
           |      'surv', coalesce(try_element_at(acc, -1).surv, CAST(1000000 AS BIGINT))
           |                * (x.at_risk - x.deaths) div x.at_risk,
           |      'g', CASE WHEN coalesce(try_element_at(acc, -1).g, CAST(0 AS BIGINT)) < 0
           |                     OR x.at_risk - x.deaths <= 0 THEN CAST(-1 AS BIGINT)
           |                ELSE coalesce(try_element_at(acc, -1).g, CAST(0 AS BIGINT))
           |                     + x.deaths * 1000000000000L
           |                       div (x.at_risk * (x.at_risk - x.deaths)) END)))
           |END""".stripMargin)).as("s"))
      .select(col("s.dur").as("duration"), col("s.at_risk").as("at_risk"),
        col("s.deaths").as("deaths"), col("s.surv").as("surv_ppm"),
        col("s.g").as("g_pico"))
    val se = col("surv_ppm").cast("double") *
      sqrt(col("g_pico").cast("double") / lit(1.0e12))
    folded
      .withColumn("ci_low_ppm",
        when(col("g_pico") >= 0L,
          col("surv_ppm").cast("double") - lit(1.96) * se))
      .withColumn("ci_high_ppm",
        when(col("g_pico") >= 0L,
          col("surv_ppm").cast("double") + lit(1.96) * se))
  }

  /** Competing-risks cumulative incidence (Aalen-Johansen for two causes):
    * when a subject can exit to cause A or cause B, the naive
    * 1-minus-KM-per-cause overstates both; the CIF at t is
    * `sum_{s<=t} S(s-) * d_k(s) / Y(s)` with S the ALL-CAUSE Kaplan-Meier.
    * Rides [[kaplanMeier]]'s integer-ppm sequential fold exactly: the fold
    * carries `(surv_ppm, cif_a_ppm, cif_b_ppm)`, every step is a
    * non-negative truncating `div`, so the whole curve is exact integers
    * and the oracle replays the identical recursion. Censoring = exit
    * with neither cause.
    *
    * One row per distinct event time with >= 1 cause exit:
    * (duration, at_risk, d_a, d_b, surv_ppm, cif_a_ppm, cif_b_ppm).
    * The event-time rollup is calendar-bounded by the same contract as
    * [[kaplanMeier]] (`maxSteps` raise guard).
    */
  def competingRisks(df: DataFrame, durationCol: Column, causeACol: Column,
      causeBCol: Column, maxSteps: Int = 100000): DataFrame = {
    val base = df.select(durationCol.cast("long").as("dur"),
      causeACol.cast("boolean").as("ca"), causeBCol.cast("boolean").as("cb"))
    val byDur = base.groupBy(col("dur")).agg(
      count(lit(1)).as("n_exit"),
      sum(when(col("ca"), 1L).otherwise(0L)).as("d_a"),
      sum(when(col("cb") && !col("ca"), 1L).otherwise(0L)).as("d_b"))
    val w = Window.orderBy(col("dur").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val steps = byDur
      .withColumn("at_risk",
        sum(col("n_exit")).over(Window.partitionBy(lit(1))) -
          coalesce(sum(col("n_exit")).over(w), lit(0L)))
      .filter(col("d_a") + col("d_b") > 0L)
      .select(col("dur"), col("at_risk"), col("d_a"), col("d_b"))
    steps
      .agg(sort_array(collect_list(struct(col("dur"), col("at_risk"),
        col("d_a"), col("d_b")))).as("st"))
      .select(explode(expr(
        s"""CASE WHEN size(st) > $maxSteps THEN
           |  raise_error(concat('competingRisks exceeded $maxSteps event times — ',
           |    'durations must be calendar-bounded integers'))
           |ELSE
           |  aggregate(st,
           |    CAST(array() AS array<struct<dur:bigint,at_risk:bigint,d_a:bigint,
           |      d_b:bigint,surv:bigint,cif_a:bigint,cif_b:bigint>>),
           |    (acc, x) -> array_append(acc, named_struct(
           |      'dur', x.dur, 'at_risk', x.at_risk, 'd_a', x.d_a, 'd_b', x.d_b,
           |      'surv', coalesce(try_element_at(acc, -1).surv, CAST(1000000 AS BIGINT))
           |                * (x.at_risk - x.d_a - x.d_b) div x.at_risk,
           |      'cif_a', coalesce(try_element_at(acc, -1).cif_a, CAST(0 AS BIGINT))
           |                + coalesce(try_element_at(acc, -1).surv, CAST(1000000 AS BIGINT))
           |                  * x.d_a div x.at_risk,
           |      'cif_b', coalesce(try_element_at(acc, -1).cif_b, CAST(0 AS BIGINT))
           |                + coalesce(try_element_at(acc, -1).surv, CAST(1000000 AS BIGINT))
           |                  * x.d_b div x.at_risk)))
           |END""".stripMargin)).as("s"))
      .select(col("s.dur").as("duration"), col("s.at_risk").as("at_risk"),
        col("s.d_a").as("d_a"), col("s.d_b").as("d_b"),
        col("s.surv").as("surv_ppm"), col("s.cif_a").as("cif_a_ppm"),
        col("s.cif_b").as("cif_b_ppm"))
  }
}
