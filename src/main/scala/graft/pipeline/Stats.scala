package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Pin.PinOps

/** Distribution statistics over the corpus (builder brief; additive to the
  * reference surface). Exact — not sketch-based — but shaped so the heavy
  * lifting happens on ROLLED-UP (group, value) counts rather than raw rows:
  * the window sort that makes naive exact quantiles unusable at corpus scale
  * here runs over distinct values per group, which for bounded-cardinality
  * metrics (lengths, token counts, scores) is orders of magnitude smaller
  * than the row count.
  */
object Stats {

  /** Exact per-group discrete quantiles (`percentile_disc` semantics): for
    * each requested per-mille point `qm`, the smallest value whose
    * cumulative row count reaches rank `ceil(qm * n / 1000)` in ascending
    * value order.
    *
    * Two-phase plan: (1) one shuffle rolling raw rows up to
    * (group, value) -> cnt; (2) a per-group cumulative-sum window over the
    * DISTINCT values only, then an all-integer rank-cut filter — exactly one
    * output row per (group, quantile), bit-identical on any engine (no
    * floating-point rank arithmetic; quantiles are per-mille ints).
    *
    * At 100 TB: phase 1 is a standard partial-agg shuffle keyed on
    * (group, value) — no skew amplification beyond the data's own; phase 2's
    * window partitions carry one row per distinct value, so even a
    * billion-row group with a bounded value domain sorts thousands of rows,
    * not billions. Unbounded-cardinality doubles should be binned or
    * sketched instead (HLL-style, see [[graft.functions.Sketches]]).
    *
    * @param qMilles quantile points in per-mille (500 = median, 990 = p99);
    *                each must be in (0, 1000].
    */
  def exactQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: Column,
      qMilles: Seq[Int]): DataFrame = {
    require(qMilles.nonEmpty && qMilles.forall(q => q > 0 && q <= 1000),
      s"qMilles must be in (0, 1000]: $qMilles")
    require(qMilles.distinct == qMilles, s"duplicate quantiles: $qMilles")
    val gcols = groupCols.map(col)
    // percentile_disc ignores NULL inputs; without this filter NULLs would
    // count into `tot` AND sort first in Spark (vs last in other engines),
    // skewing low quantiles and breaking cross-engine bit-identity
    val counts = df.filter(valueCol.isNotNull)
      .groupBy(gcols :+ valueCol.as("v"): _*)
      .agg(count(lit(1)).as("cnt"))
    val byVal = Window.partitionBy(gcols: _*).orderBy(col("v").asc)
    val whole = Window.partitionBy(gcols: _*)
    counts
      .withColumn("cum", sum(col("cnt")).over(byVal))
      .withColumn("tot", sum(col("cnt")).over(whole))
      .select(gcols ++ Seq(col("v"), col("cnt"), col("cum"), col("tot"),
        explode(array(qMilles.map(q => lit(q)): _*)).as("q_mille")): _*)
      // first value whose cumulative count reaches rank ceil(qm*tot/1000):
      // cum*1000 >= qm*tot and the previous cumulative (cum-cnt) hasn't
      .filter(col("cum") * 1000L >= col("q_mille").cast("long") * col("tot") &&
        (col("cum") - col("cnt")) * 1000L < col("q_mille").cast("long") * col("tot"))
      .select(gcols ++ Seq(col("q_mille"), col("v").as("value")): _*)
  }

  /** Exact per-group INTERPOLATED quantiles (`percentile_cont` semantics)
    * in integer micro-units: at per-mille point q over n values, the
    * 0-based position is `p = q*(n-1)/1000`; with `ip = q*(n-1) div 1000`
    * and `rem = q*(n-1) mod 1000`, the result is
    * `value_micro = lo*1e6 + rem*(hi-lo)*1000` where lo/hi are the sorted
    * multiset's elements at ip and ip+1 — every step exact integer
    * arithmetic, so unlike a float percentile_cont the value
    * hash-compares across engines (and `value_micro/1e6` equals the IEEE
    * percentile_cont wherever that is representable).
    *
    * Same two-phase shape as [[exactQuantiles]]: one (group, value) rollup
    * shuffle, then cumulative-sum windows over DISTINCT values only; lo
    * and hi resolve from the same cumsum relation in ONE pass (a row
    * covers index i iff cum-cnt <= i < cum), so no extra join. Integral
    * values only — quantize doubles first (the cents recipe).
    */
  def interpolatedQuantiles(df: DataFrame, groupCols: Seq[String],
      valueCol: Column, qMilles: Seq[Int]): DataFrame = {
    require(qMilles.nonEmpty && qMilles.forall(q => q >= 0 && q <= 1000),
      s"qMilles must be in [0, 1000]: $qMilles")
    require(qMilles.distinct == qMilles, s"duplicate quantiles: $qMilles")
    val gcols = groupCols.map(col)
    val counts = df.filter(valueCol.isNotNull)
      .groupBy(gcols :+ valueCol.cast("long").as("v"): _*)
      .agg(count(lit(1)).as("cnt"))
    val byVal = Window.partitionBy(gcols: _*).orderBy(col("v").asc)
    val whole = Window.partitionBy(gcols: _*)
    val pos = counts
      .withColumn("cum", sum(col("cnt")).over(byVal))
      .withColumn("tot", sum(col("cnt")).over(whole))
      .select(gcols ++ Seq(col("v"), col("cnt"), col("cum"), col("tot"),
        explode(array(qMilles.map(q => lit(q)): _*)).as("q_mille")): _*)
      .withColumn("ip",
        call_function("div", col("q_mille").cast("long") * (col("tot") - 1), lit(1000L)))
      .withColumn("rem",
        col("q_mille").cast("long") * (col("tot") - 1) - col("ip") * 1000L)
      // hi index: ip when the position is exact, ip+1 when interpolating
      .withColumn("ip2", col("ip") + when(col("rem") > 0, 1L).otherwise(0L))
    def covers(i: Column) = (col("cum") - col("cnt")) <= i && i < col("cum")
    pos
      .filter(covers(col("ip")) || covers(col("ip2")))
      .groupBy(gcols :+ col("q_mille"): _*)
      .agg(max(when(covers(col("ip")), col("v"))).as("lo"),
        max(when(covers(col("ip2")), col("v"))).as("hi"),
        max(col("rem")).as("r"), max(col("tot")).as("n_values"))
      .select(gcols ++ Seq(col("q_mille"), col("n_values"),
        (col("lo") * 1000000L + col("r") * (col("hi") - col("lo")) * 1000L)
          .as("value_micro")): _*)
  }

  /** Robust per-group outlier detection via median/MAD: flag rows where
    * `|v - median| > k * MAD` (MAD = median of absolute deviations from the
    * median). Unlike mean/stddev z-scores, both statistics have a 50%
    * breakdown point — the outliers being hunted cannot drag the threshold
    * toward themselves, which is why corpus length/score gates use MAD.
    *
    * Integer-exact end to end for integral `valueCol` (both medians are
    * actual data values via [[exactQuantiles]]'s percentile_disc rank cut;
    * `k` is an integer multiplier), so flags reproduce bit-identically on
    * any engine. NULL values are never flagged (no deviation exists).
    *
    * Scale shape: ONE (group, value) register rollup, pinned, from which
    * BOTH medians derive (the deviation distribution is a re-keying of
    * the value rollup — |v - med| weighted by cnt — so the MAD pass
    * never touches raw rows; plan-audit r12: the two exactQuantiles
    * passes each re-scanned raw before, 3 scans, now 2), plus one raw
    * pass for the flagged-row output join. The rank cuts are
    * [[graft.functions.QuantileSketch.qsQuantile]] over the rollup —
    * spec-pinned equal to [[exactQuantiles]] on exact registers.
    * A degenerate group (MAD = 0, >= 50% identical values) flags every
    * deviating row — the correct robust-statistics reading.
    */
  def madOutliers(df: DataFrame, groupCols: Seq[String], valueCol: Column,
      k: Long): DataFrame = {
    require(k >= 1, s"k: $k")
    val gcols = groupCols.map(col)
    require(groupCols.nonEmpty, "madOutliers needs at least one group column")
    // integral values only: the old silent cast("long") TRUNCATED doubles
    // in abs_dev while the median came from the raw values — mismatched
    // quantities, wrong flags. Quantize non-integral metrics first (the
    // q107 cents recipe).
    val vType = df.select(valueCol).schema.head.dataType
    require(Seq("byte", "short", "integer", "long").contains(vType.typeName),
      s"madOutliers requires an integral value column, got $vType — " +
        "quantize doubles first (e.g. cents = floor(v*100 + 0.5))")
    val rr = df.filter(valueCol.isNotNull)
      .groupBy(gcols :+ valueCol.cast("long").as("qs_value"): _*)
      .agg(count(lit(1)).as("qs_weight"))
      .pinLazy() // feeds the median AND the deviation rollup
    val med = graft.functions.QuantileSketch
      .qsQuantile(rr, groupCols, Seq(500))
      .select(gcols :+ col("value").as("med"): _*)
    val devRegs = rr.join(broadcast(med), groupCols)
      .select(gcols :+ abs(col("qs_value") - col("med")).as("qs_value")
        :+ col("qs_weight"): _*)
    val mad = graft.functions.QuantileSketch
      .qsQuantile(devRegs, groupCols, Seq(500))
      .select(gcols :+ col("value").as("mad"): _*)
    df.filter(valueCol.isNotNull)
      .join(broadcast(med), groupCols)
      .withColumn("abs_dev", abs(valueCol.cast("long") - col("med")))
      .join(broadcast(mad), groupCols)
      .filter(col("abs_dev") > lit(k) * col("mad"))
  }

  /** Per-group winsorization: clip values to the group's [lo, hi]
    * percentile-disc fences (exact rank-cut quantiles, so the fences are
    * actual data values and the clip is integer-exact for integral
    * metrics). The standard tail-taming step before a mean/sum that an
    * outlier could own — the complement of [[madOutliers]], which REPORTS
    * the tails instead of capping them.
    *
    * Adds `clipped` plus `clip_dir` (-1 below, 0 kept, +1 above). Shape:
    * one [[exactQuantiles]] pass + a broadcast fence join; raw rows never
    * sort.
    */
  def winsorize(df: DataFrame, groupCols: Seq[String], valueCol: Column,
      loMille: Int, hiMille: Int): DataFrame = {
    require(loMille < hiMille, s"lo must be below hi: $loMille/$hiMille")
    require(groupCols.nonEmpty, "winsorize needs at least one group column")
    val gcols = groupCols.map(col)
    val fences = exactQuantiles(df, groupCols, valueCol, Seq(loMille, hiMille))
      .groupBy(gcols: _*)
      .agg(max(when(col("q_mille") === loMille, col("value"))).as("__lo"),
        max(when(col("q_mille") === hiMille, col("value"))).as("__hi"))
    df.join(broadcast(fences), groupCols)
      .withColumn("clipped", greatest(col("__lo"), least(col("__hi"), valueCol)))
      .withColumn("clip_dir",
        when(valueCol < col("__lo"), -1).when(valueCol > col("__hi"), 1)
          .otherwise(0))
      .drop("__lo", "__hi")
  }

  /** Last-observation-carried-forward gap filling (LOCF): per group, each
    * row's `filled` is the most recent non-NULL value at or before it in
    * (order, tie) order — the standard state-reconstruction step for
    * sparse state-like feeds (price ticks, setting changes) before any
    * per-row computation. Spark's `last(_, ignoreNulls)` over a running
    * frame; rows before the first observation stay NULL (there is nothing
    * to carry — imputation is a different, explicit decision).
    *
    * One keyed window sort; scales as any per-group window.
    */
  def locf(df: DataFrame, groupCols: Seq[String], orderCol: Column,
      tieCol: Column, valueCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "locf needs at least one group column")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(orderCol.asc, tieCol.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("filled", last(valueCol, ignoreNulls = true).over(w))
  }

  /** Truncated exponentially-weighted moving average over a per-group
    * integer day series, in EXACT integer arithmetic: with rational
    * smoothing `alpha = a/b`, the weight of the value `j` days back is
    * `a*(b-a)^j * b^(L-1-j) / b^L` — every weight an exact BIGINT
    * numerator over the shared denominator `b^L`, so `ewma_num` (and its
    * per-mille rendering) hash-compares on any engine; no float recursion
    * whose summation order could drift. Truncation at `L` terms drops
    * weight `(1-alpha)^L` (~1.8% for alpha=1/4, L=14) — the streaming-
    * friendly standard trade, documented rather than hidden.
    *
    * Missing days count as zero: the series is densified onto each
    * group's [min, max] day spine first (an absent day in an event feed
    * IS a zero-activity day; skipping it would silently stretch time).
    *
    * Shape: one rollup to (group, day), a per-group min/max rollup
    * exploded to the day spine, a 14-way literal weight fan-out, and one
    * (group, day) partial-agg — no windows over raw rows, no global
    * sort. Spine rows = groups x day-span, bounded by calendar time, not
    * row count.
    *
    * @return (groupCols..., day_idx, ewma_num, ewma_milli) where
    *         `ewma = ewma_num / b^L` and `ewma_milli = 1000*num div b^L`.
    */
  /** Per-group sample autocorrelation (ACF) of a daily integer series at
    * lags 1..maxLag — the seasonality / burstiness diagnostic that decides
    * whether [[ewmaDaily]] smoothing or the q204 weekly baseline is the
    * right drift model for a metric.
    *
    * The series is densified onto each group's [min, max] day spine
    * (missing days are zero-activity days, as in [[ewmaDaily]]), then ONE
    * per-group window sort produces every lag's pairing via `lead(x, k)`.
    * The standard estimator
    * `r_k = sum((x_t - m)(x_{t+k} - m)) / sum((x_t - m)^2)` with the GLOBAL
    * mean `m = S/n` is cleared of the rational mean by multiplying through
    * by `n^2`:
    * `r_k = (n^2*P_k - n*S*(Sh_k + St_k) + (n-k)*S^2) / (n^2*SS - n*S^2)`
    * where `P_k = sum(x_t * x_{t+k})`, `Sh_k`/`St_k` are the head/tail
    * partial sums over the paired range — every operand an exact BIGINT, so
    * the single IEEE division hash-compares on any engine. A constant
    * series has zero variance -> NULL (undefined, not NaN noise).
    *
    * Scale shape: one (group, day) rollup shuffle, then a window whose
    * partitions hold one row per DAY (calendar-bounded, never row-count-
    * bounded), then a per-group partial agg. No global sort.
    */
  def autocorr(df: DataFrame, groupCols: Seq[String], dayCol: Column,
      valueCol: Column, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 30, s"maxLag must be in [1, 30]: $maxLag")
    require(groupCols.nonEmpty, "autocorr needs at least one group column")
    val gcols = groupCols.map(col)
    val daily = df.groupBy(gcols :+ dayCol.cast("long").as("day"): _*)
      .agg(sum(valueCol.cast("long")).as("y"))
      .pinLazy() // feeds the spine agg AND the dense join (plan-audit pin, r11)
    val spine = daily.groupBy(gcols: _*)
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(gcols :+ explode(sequence(col("mn"), col("mx"))).as("day"): _*)
    val dense = spine.join(daily, groupCols :+ "day", "left")
      .select(gcols ++ Seq(col("day"), coalesce(col("y"), lit(0L)).as("x")): _*)
    // ONE sort serves every lag: lead(x, k) over the same ordered window
    val w = Window.partitionBy(gcols: _*).orderBy(col("day").asc)
    val withLeads = (1 to maxLag).foldLeft(dense) { (acc, k) =>
      acc.withColumn(s"x_$k", lead(col("x"), k).over(w))
    }
    // moments ride DECIMAL(38,0): n^2 * sum(x^2) overflows a BIGINT once
    // daily totals pass ~3e9 (plausible at 100 TB), and a wrapped moment is
    // a silently-wrong correlation; decimal overflow raises instead
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val lagSums = (1 to maxLag).flatMap { k =>
      Seq(
        sum(dec(col("x")) * dec(col(s"x_$k"))).as(s"p_$k"),
        sum(when(col(s"x_$k").isNotNull, dec(col("x")))).as(s"sh_$k"),
        sum(dec(col(s"x_$k"))).as(s"st_$k"))
    }
    val agg = withLeads.groupBy(gcols: _*).agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      (Seq(sum(dec(col("x"))).as("s"),
        sum(dec(col("x")) * dec(col("x"))).as("ss")) ++ lagSums): _*)
    val den = col("n") * col("n") * col("ss") - col("n") * col("s") * col("s")
    val zero = lit(0L).cast("decimal(38,0)")
    val lagRows = (1 to maxLag).map { k =>
      val num = col("n") * col("n") * coalesce(col(s"p_$k"), zero) -
        col("n") * col("s") *
          (coalesce(col(s"sh_$k"), zero) + coalesce(col(s"st_$k"), zero)) +
        (col("n") - k) * col("s") * col("s")
      struct(lit(k).as("lag"), (col("n") - k).cast("long").as("n_pairs"),
        when(den =!= zero && col("n") > k,
          num.cast("double") / den.cast("double")).as("acf"))
    }
    agg.select(gcols :+ explode(array(lagRows: _*)).as("t"): _*)
      .select(gcols ++ Seq(col("t.lag"), col("t.n_pairs"), col("t.acf")): _*)
  }

  /** Cross-correlation function between two daily series — [[autocorr]]'s
    * two-signal sibling, the "does X lead Y" detector (views today vs
    * purchases in `lag` days): Pearson between `x_t` and `y_{t+lag}` for
    * every lag in `[-maxLag, maxLag]`, each over the exact overlapping
    * subset's DECIMAL moments with ONE final IEEE expression per lag.
    * The x series is rows where `inY` is false, y where true; both roll
    * up to the shared densified day spine (missing days are zero — event
    * volumes, the [[ewmaDaily]] convention).
    *
    * ONE calendar-bounded window sort serves every lag (lead for
    * positive, lag for negative — the autocorr trick), then a single
    * aggregate carries all per-lag moments. The spine window is
    * single-partition over DAYS by design (bounded by the calendar, the
    * kaplanMeier contract).
    */
  def crossCorrDaily(df: DataFrame, dayCol: Column, valueCol: Column,
      inY: Column, maxLag: Int, maxDays: Long = 100000L): DataFrame = {
    require(maxLag >= 1 && maxLag <= 30, s"maxLag must be in [1, 30]: $maxLag")
    require(maxDays >= 2, s"maxDays: $maxDays")
    val daily = df.groupBy(dayCol.cast("long").as("day"))
      .agg(sum(when(!inY, valueCol.cast("long")).otherwise(0L)).as("x"),
        sum(when(inY, valueCol.cast("long")).otherwise(0L)).as("y"))
      .pinLazy() // feeds the spine agg AND the dense join (plan-audit pin, r11)
    // span guard (module contract): the spine feeds a single-partition
    // ordered window, safe only because the calendar bounds it — a
    // timestamp-grain mis-call must raise, not explode
    val spine = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(explode(sequence(col("mn"),
        // NULL-safe: empty/all-NULL input leaves mn/mx NULL — the
        // sequence is then NULL and explode emits no rows (empty spine),
        // instead of the NULL span falling through to the raise (r11
        // advisor: the guard must not fire on EMPTY input)
        when(col("mx").isNull || col("mx") - col("mn") < lit(maxDays), col("mx"))
          .otherwise(raise_error(lit(s"crossCorrDaily day span exceeded " +
            s"$maxDays — dayCol must be daily-grain (the lag window is " +
            "single-partition over the spine); pre-aggregate or raise " +
            "maxDays deliberately")).cast("long")))).as("day"))
    val dense = spine.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    val w = Window.orderBy(col("day").asc)
    val lags = (-maxLag to maxLag).filter(_ != 0)
    val withShift = lags.foldLeft(dense) { (acc, l) =>
      val shifted = if (l > 0) lead(col("y"), l).over(w) else lag(col("y"), -l).over(w)
      acc.withColumn(s"y_$l", shifted)
    }.withColumn("y_0", col("y"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val allLags = 0 +: lags
    val moments = allLags.flatMap { l =>
      val yl = col(s"y_$l")
      val in = yl.isNotNull
      Seq(
        sum(when(in, 1L).otherwise(0L)).as(s"n_$l"),
        sum(when(in, dec(col("x")))).as(s"sx_$l"),
        sum(when(in, dec(col("x")) * col("x"))).as(s"sxx_$l"),
        sum(dec(yl)).as(s"sy_$l"),
        sum(dec(yl) * yl).as(s"syy_$l"),
        sum(dec(col("x")) * yl).as(s"sxy_$l"))
    }
    val agg = withShift.agg(moments.head, moments.tail: _*)
    val rows = allLags.map { l =>
      val (n, sx, sxx, sy, syy, sxy) = (dec(col(s"n_$l")), col(s"sx_$l"),
        col(s"sxx_$l"), col(s"sy_$l"), col(s"syy_$l"), col(s"sxy_$l"))
      val varx = n * sxx - sx * sx
      val vary = n * syy - sy * sy
      struct(lit(l).as("lag"), col(s"n_$l").as("n_pairs"),
        when(varx > 0 && vary > 0,
          (n * sxy - sx * sy).cast("double") /
            (sqrt(varx.cast("double")) * sqrt(vary.cast("double")))).as("ccf"))
    }
    // empty input: the global agg still emits its one row (n_0 = 0) —
    // gate the per-lag explode on it so an empty series yields an EMPTY
    // frame, not 2*maxLag+1 phantom NULL rows (r11 advisor contract)
    agg.filter(col("n_0") > 0L)
      .select(explode(array(rows: _*)).as("t"))
      .select(col("t.lag").cast("long").as("lag"),
        col("t.n_pairs").as("n_pairs"), col("t.ccf").as("ccf"))
  }

  /** Day-of-week seasonality strength per group: the eta-squared-style
    * index `(A - B) / (C - B)` in ppm, where over the daily-total series
    * `A = sum_dow(S_dow^2 div n_dow)`, `B = S^2 div n`, `C = sum(y^2)` —
    * the share of daily variance the weekly profile explains (the
    * q204-family decision input: is a weekly-seasonal baseline worth
    * fitting?). Each division is a declared integer truncation (the
    * changepoint-score convention), every other step exact DECIMAL, so
    * the index is engine-portable. 0 ~ no weekly pattern, ~1e6 ~ the
    * profile explains everything; degenerate groups (constant series,
    * C = B) emit NULL.
    */
  def weeklySeasonalityStrength(df: DataFrame, groupCols: Seq[String],
      dayCol: Column, valueCol: Column): DataFrame = {
    val gcols = groupCols.map(col)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = df.groupBy(gcols :+ dayCol.cast("long").as("day"): _*)
      .agg(sum(valueCol.cast("long")).as("y"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
    val byDow = daily.groupBy(gcols :+ col("dow"): _*)
      .agg(sum(dec(col("y"))).as("s_g"), count(lit(1)).as("n_g"))
      .groupBy(gcols: _*)
      .agg(sum(call_function("div", col("s_g") * col("s_g"), dec(col("n_g"))))
        .as("a"))
    val tot = daily.groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_days"), sum(dec(col("y"))).as("s"),
        sum(dec(col("y")) * col("y")).as("c"))
      .withColumn("b", call_function("div", col("s") * col("s"), dec(col("n_days"))))
    byDow.join(tot, groupCols)
      .withColumn("strength_ppm",
        when(col("c") > col("b"),
          // the div results are LONG; at warehouse volumes (a - b) * 1e6
          // overflows 64 bits (seen at sf0.1) — go back through DECIMAL.
          // Clamped at 0: the seven per-dow truncated divisions can make
          // `a` up to ~7 units smaller than exact while `b` truncates by
          // <1, so a near-constant series with c > b could otherwise emit
          // a small negative ppm despite the documented 0..~1e6 range
          greatest(lit(0L),
            call_function("div", dec(col("a") - col("b")) * 1000000L,
              dec(col("c") - col("b"))).cast("long"))))
      .select(gcols ++ Seq(col("n_days"), col("strength_ppm")): _*)
  }

  /** Per-group time-weighted average (TWAP) over an irregularly-sampled
    * value series: each sample holds until the next observation, so its
    * weight is that duration in exact microseconds — the correct average
    * for state-like metrics (balance, queue depth, price) where the
    * arithmetic row mean over-weights bursty periods. The final open-ended
    * sample has no duration and is excluded (the standard "known interval
    * only" convention).
    *
    * `twap_micro = (sum(v_milli * dur_us) * 1000) div sum(dur_us)` — the
    * weighted sum rides DECIMAL(38,0) (milli-value x microsecond products
    * overflow a BIGINT on year-long spans), the result is an exact integer
    * in micro-units, hash-comparable anywhere.
    *
    * Shape: one per-group window sort by (ts, tiebreak) for the `lead`
    * durations, then a per-group partial agg. Scales as any keyed window.
    */
  def twap(df: DataFrame, groupCols: Seq[String], tsCol: Column,
      tieCol: Column, valueMilliCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "twap needs at least one group column")
    val gcols = groupCols.map(col)
    val w = Window.partitionBy(gcols: _*).orderBy(tsCol.asc, tieCol.asc)
    val us = unix_micros(tsCol)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    df.filter(tsCol.isNotNull && valueMilliCol.isNotNull)
      .withColumn("__dur_us", lead(us, 1).over(w) - us)
      .filter(col("__dur_us").isNotNull)
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("__dur_us")).as("total_dur_us"),
        sum(dec(valueMilliCol) * dec(col("__dur_us"))).as("__wsum"))
      .withColumn("twap_micro",
        // a group whose samples all share one timestamp has zero total
        // duration: TWAP is undefined -> NULL (ANSI div would raise)
        when(col("total_dur_us") > 0,
          call_function("div", col("__wsum") * lit(1000L),
            dec(col("total_dur_us"))).cast("long")))
      .drop("__wsum")
  }

  def ewmaDaily(df: DataFrame, groupCols: Seq[String], dayCol: Column,
      valueCol: Column, alphaNum: Int, alphaDen: Int,
      lookback: Int): DataFrame = {
    require(alphaNum >= 1 && alphaDen > alphaNum,
      s"alpha must be a proper fraction: $alphaNum/$alphaDen")
    require(lookback >= 1 && lookback <= 20,
      s"lookback terms must be in [1, 20] (b^L must fit a BIGINT): $lookback")
    val gcols = groupCols.map(col)
    // exact integer weights w_j = a*(b-a)^j*b^(L-1-j); denominator b^L
    val weights = (0 until lookback).map { j =>
      alphaNum.toLong * math.pow(alphaDen - alphaNum, j).toLong *
        math.pow(alphaDen, lookback - 1 - j).toLong
    }
    val denom = math.pow(alphaDen, lookback).toLong

    val daily = df.groupBy(gcols :+ dayCol.cast("long").as("day"): _*)
      .agg(sum(valueCol.cast("long")).as("y"))
      .pinLazy() // feeds the spine agg AND the dense join (plan-audit pin, r11)
    val spine = daily.groupBy(gcols: _*)
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(gcols :+ explode(sequence(col("mn"), col("mx"))).as("day_idx"): _*)
    val fan = spine.select(gcols ++ Seq(col("day_idx"),
      explode(array(weights.zipWithIndex.map { case (w, j) =>
        struct(lit(j.toLong).as("j"), lit(w).as("w"))
      }: _*)).as("t")): _*)
      .select(gcols ++ Seq(col("day_idx"), (col("day_idx") - col("t.j")).as("day"),
        col("t.w").as("w")): _*)
    fan.join(daily, groupCols :+ "day", "left")
      .groupBy(gcols :+ col("day_idx"): _*)
      .agg(sum(col("w") * coalesce(col("y"), lit(0L))).as("ewma_num"))
      .withColumn("ewma_milli",
        call_function("div", col("ewma_num") * 1000L, lit(denom)))
  }

  /** Holt double exponential smoothing (level + linear trend) over densified
    * daily series, as a TRUNCATED fixed-point integer recursion — the model
    * IS the integer recursion (the [[graft.pipeline.Inference.kaplanMeier]]
    * discipline), so any engine replays it bit-exactly:
    * {{{
    * l_0 = y_0 * S,  b_0 = 0
    * l_t = (an*y_t*S + (ad-an)*(l_{t-1} + b_{t-1})) div ad
    * b_t = (bn*(l_t - l_{t-1}) + (bd-bn)*b_{t-1}) div bd
    * }}}
    * with `div` TRUNCATING toward zero (Spark's semantics; an oracle on a
    * floor-division engine must wrap negatives — b_t goes negative on
    * downtrends). Missing spine days contribute y = 0, matching
    * [[ewmaDaily]]'s convention (gap days are real zero-activity days for
    * event volumes; LOCF-fill upstream via [[locf]] when they are not).
    *
    * The recursion is sequential by nature and runs per group over the
    * CALENDAR-BOUNDED day spine via sort_array(collect_list) + a
    * higher-order fold (waterFill's bounded-by-contract pattern, guarded
    * by `maxSteps`); groups process in parallel. Output per (group, day):
    * level, trend, and the one-step-ahead forecast `l + b`, all in
    * `valueCol`-units x 1e6.
    */
  def holtDaily(df: DataFrame, groupCols: Seq[String], dayCol: Column,
      valueCol: Column, alphaNum: Int, alphaDen: Int,
      betaNum: Int, betaDen: Int, maxSteps: Int = 100000): DataFrame = {
    require(alphaNum >= 1 && alphaDen > alphaNum,
      s"alpha must be a proper fraction: $alphaNum/$alphaDen")
    require(betaNum >= 1 && betaDen > betaNum,
      s"beta must be a proper fraction: $betaNum/$betaDen")
    val gcols = groupCols.map(col)
    val daily = df.groupBy(gcols :+ dayCol.cast("long").as("day"): _*)
      .agg(sum(valueCol.cast("long")).as("y"))
      .pinLazy() // feeds the spine agg AND the dense join (plan-audit pin, r11)
    val spine = daily.groupBy(gcols: _*)
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(gcols :+ explode(sequence(col("mn"), col("mx"))).as("day"): _*)
    val dense = spine.join(daily, groupCols :+ "day", "left")
      .select(gcols :+ col("day") :+ coalesce(col("y"), lit(0L)).as("y"): _*)
    val (an, ad, bn, bd) = (alphaNum, alphaDen, betaNum, betaDen)
    val folded = dense
      .groupBy(gcols: _*)
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("st"))
      .select(gcols :+ explode(expr(
        s"""CASE WHEN size(st) > $maxSteps THEN
           |  raise_error('holtDaily exceeded $maxSteps spine days — the day spine must be calendar-bounded')
           |ELSE
           |  aggregate(st,
           |    CAST(array() AS array<struct<day:bigint,l:bigint,b:bigint>>),
           |    (acc, x) -> CASE WHEN size(acc) = 0 THEN
           |        array(named_struct('day', x.day, 'l', x.y * 1000000L, 'b', CAST(0 AS BIGINT)))
           |      ELSE
           |        array_append(acc, named_struct(
           |          'day', x.day,
           |          'l', ($an * x.y * 1000000L
           |                + ${ad - an} * (element_at(acc, -1).l + element_at(acc, -1).b)) div $ad,
           |          'b', ($bn * ((($an * x.y * 1000000L
           |                + ${ad - an} * (element_at(acc, -1).l + element_at(acc, -1).b)) div $ad)
           |                - element_at(acc, -1).l)
           |                + ${bd - bn} * element_at(acc, -1).b) div $bd))
           |      END)
           |END""".stripMargin)).as("s"): _*)
    folded.select(gcols ++ Seq(col("s.day").as("day"),
      col("s.l").as("level_micro"), col("s.b").as("trend_micro"),
      (col("s.l") + col("s.b")).as("forecast_micro")): _*)
  }

  /** Holt-Winters TRIPLE exponential smoothing (additive seasonal, period
    * 7) — the [[holtDaily]] recursion with a weekly seasonal state, the
    * forecasting-family capstone (EWMA -> Holt -> HW):
    * {{{
    * t = 0:  l = y*S, b = 0, s = 0
    * t >= 1, sp = s_{t-7} (0 while t < 7):
    *   l_t = (an*(y_t*S - sp) + (ad-an)*(l+b))      div ad
    *   b_t = (bn*(l_t - l_{t-1}) + (bd-bn)*b_{t-1}) div bd
    *   s_t = (gn*(y_t*S - l_t) + (gd-gn)*sp)        div gd
    * }}}
    * truncating `div` throughout (the declared fixed-point model — an
    * oracle replays it step for step; a floor-division engine wraps
    * negatives). The seasonal lookback reads the fold's OWN accumulator
    * seven entries back, so the recursion needs no side state. Missing
    * spine days are zero (the [[ewmaDaily]] convention). Same
    * calendar-bounded per-group fold contract as [[holtDaily]].
    */
  def holtWintersDaily(df: DataFrame, groupCols: Seq[String], dayCol: Column,
      valueCol: Column, alphaNum: Int, alphaDen: Int,
      betaNum: Int, betaDen: Int, gammaNum: Int, gammaDen: Int,
      maxSteps: Int = 100000): DataFrame = {
    require(alphaNum >= 1 && alphaDen > alphaNum, s"alpha: $alphaNum/$alphaDen")
    require(betaNum >= 1 && betaDen > betaNum, s"beta: $betaNum/$betaDen")
    require(gammaNum >= 1 && gammaDen > gammaNum, s"gamma: $gammaNum/$gammaDen")
    val gcols = groupCols.map(col)
    val daily = df.groupBy(gcols :+ dayCol.cast("long").as("day"): _*)
      .agg(sum(valueCol.cast("long")).as("y"))
      .pinLazy() // feeds the spine agg AND the dense join (plan-audit pin, r11)
    val spine = daily.groupBy(gcols: _*)
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(gcols :+ explode(sequence(col("mn"), col("mx"))).as("day"): _*)
    val dense = spine.join(daily, groupCols :+ "day", "left")
      .select(gcols :+ col("day") :+ coalesce(col("y"), lit(0L)).as("y"): _*)
    val (an, ad, bn, bd, gn, gd) =
      (alphaNum, alphaDen, betaNum, betaDen, gammaNum, gammaDen)
    // sp and l_t as SQL snippets — l_t appears in b_t and s_t, and Spark
    // does no CSE inside lambdas, so the repetition is textual only
    val sp = "CASE WHEN size(acc) >= 7 THEN element_at(acc, -7).s ELSE 0L END"
    val lNew = s"(($an * x.y * 1000000L - $an * ($sp)" +
      s" + ${ad - an} * (element_at(acc, -1).l + element_at(acc, -1).b)) div $ad)"
    val folded = dense
      .groupBy(gcols: _*)
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("st"))
      .select(gcols :+ explode(expr(
        s"""CASE WHEN size(st) > $maxSteps THEN
           |  raise_error('holtWintersDaily exceeded $maxSteps spine days')
           |ELSE
           |  aggregate(st,
           |    CAST(array() AS array<struct<day:bigint,l:bigint,b:bigint,s:bigint>>),
           |    (acc, x) -> CASE WHEN size(acc) = 0 THEN
           |        array(named_struct('day', x.day, 'l', x.y * 1000000L,
           |          'b', CAST(0 AS BIGINT), 's', CAST(0 AS BIGINT)))
           |      ELSE
           |        array_append(acc, named_struct(
           |          'day', x.day,
           |          'l', $lNew,
           |          'b', ($bn * ($lNew - element_at(acc, -1).l)
           |                + ${bd - bn} * element_at(acc, -1).b) div $bd,
           |          's', ($gn * (x.y * 1000000L - $lNew)
           |                + ${gd - gn} * ($sp)) div $gd))
           |      END)
           |END""".stripMargin)).as("t"): _*)
    folded.select(gcols ++ Seq(col("t.day").as("day"),
      col("t.l").as("level_micro"), col("t.b").as("trend_micro"),
      col("t.s").as("seasonal_micro")): _*)
  }

  /** Single-changepoint localization per group (the first step of binary
    * segmentation): over the day-ordered series, pick the split
    * maximizing the variance-reduction score
    * `G(s) = S_L^2 div n_L + S_R^2 div n_R - S^2 div n` (each term an
    * integer-truncated division in squared value units — the declared
    * score, engine-portable; ties to the earliest split day; pre-scale
    * the value so group totals stay under ~1e9 x sqrt(n), else the final
    * long cast fails loud under ANSI). This is the mean-shift detector that LOCALIZES
    * the break [[graft.operators.EventAnalytics]]'s CUSUM only flags.
    *
    * Shape: one (group, day) rollup, prefix sums over the per-group
    * day-ordered window (parallel across groups, calendar-bounded within),
    * then an argmax via one more group-partitioned window. Sums square in
    * DECIMAL(38,0) so daily totals up to ~1e15 units cannot overflow.
    * `split_day` is the LAST day of the left segment.
    */
  def changepointDaily(df: DataFrame, groupCols: Seq[String], dayCol: Column,
      valueCol: Column): DataFrame = {
    require(groupCols.nonEmpty,
      "changepointDaily needs groupCols — an ungrouped series would prefix-" +
        "sum through one partition; wrap the series in a constant group")
    val gcols = groupCols.map(col)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = df.groupBy(gcols :+ dayCol.cast("long").as("day"): _*)
      .agg(sum(valueCol.cast("long")).as("y"))
    val byG = Window.partitionBy(gcols: _*)
    val ordered = byG.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = daily
      .withColumn("__sl", sum(col("y")).over(ordered))
      .withColumn("__nl", count(lit(1)).over(ordered))
      .withColumn("__s", sum(col("y")).over(byG))
      .withColumn("__n", count(lit(1)).over(byG))
      .filter(col("__nl") < col("__n")) // split after the last day is no split
      .withColumn("gain",
        (call_function("div", dec(col("__sl")) * col("__sl"), dec(col("__nl"))) +
          call_function("div",
            dec(col("__s") - col("__sl")) * (col("__s") - col("__sl")),
            dec(col("__n") - col("__nl"))) -
          call_function("div", dec(col("__s")) * col("__s"), dec(col("__n"))))
          .cast("long"))
    val best = scored
      .withColumn("__mx", max(col("gain")).over(byG))
      .filter(col("gain") === col("__mx"))
      .groupBy(gcols :+ col("gain"): _*)
      .agg(min(col("day")).as("split_day"))
    best.join(scored, groupCols :+ "gain")
      .filter(col("day") === col("split_day"))
      .select(gcols ++ Seq(col("split_day"), col("gain"),
        col("__nl").as("n_left"), (col("__n") - col("__nl")).as("n_right"),
        call_function("div", col("__sl") * 1000L, col("__nl")).as("mean_left_milli"),
        call_function("div", (col("__s") - col("__sl")) * 1000L,
          col("__n") - col("__nl")).as("mean_right_milli")): _*)
  }

  /** Rolling-origin forecast backtest of [[holtDaily]] (Tashman 2000, the
    * standard out-of-sample evaluation for smoothing forecasters): because
    * the Holt fold emits its state at EVERY day, the h-step forecast made
    * "as of" day d is just `level_d + h*trend_d` — so one fold pass yields
    * every historical forecast origin at once, and the backtest is a
    * self-join of that state series onto the dense actuals h days ahead.
    * No per-origin refitting, no leakage (state at d saw only days <= d).
    *
    * Per group: `n_evals`, exact signed/absolute micro error sums,
    * `mae_micro = sum|err| div n`, and `wape_ppm = sum|err|*1e6 div
    * sum|actual|` (the aggregate-ratio WAPE — well-defined where MAPE
    * explodes on zero days; NULL when the actuals sum to zero). All
    * divisions over non-negative operands; the signed sum is exact and
    * un-divided (negative truncation is engine-ambiguous).
    *
    * Scale shape: the holtDaily fold contract (calendar-bounded per-group
    * arrays), one more (group, day)-keyed equi-join, one partial agg.
    */
  def holtBacktest(df: DataFrame, groupCols: Seq[String], dayCol: Column,
      valueCol: Column, alphaNum: Int, alphaDen: Int, betaNum: Int,
      betaDen: Int, horizon: Int = 1, maxSteps: Int = 100000): DataFrame = {
    require(horizon >= 1 && horizon <= 1000, s"horizon: $horizon")
    val gcols = groupCols.map(col)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val state = holtDaily(df, groupCols, dayCol, valueCol, alphaNum,
      alphaDen, betaNum, betaDen, maxSteps)
      .withColumn("fc_micro",
        col("level_micro") + lit(horizon.toLong) * col("trend_micro"))
      .select(gcols ++ Seq((col("day") + horizon).as("day"),
        col("fc_micro")): _*)
    val daily = df.groupBy(gcols :+ dayCol.cast("long").as("day"): _*)
      .agg(sum(valueCol.cast("long")).as("y"))
      .pinLazy() // feeds the spine agg AND the dense join (plan-audit pin, r11)
    val spine = daily.groupBy(gcols: _*)
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(gcols :+ explode(sequence(col("mn"), col("mx"))).as("day"): _*)
    val dense = spine.join(daily, groupCols :+ "day", "left")
      .select(gcols ++ Seq(col("day"), coalesce(col("y"), lit(0L)).as("y")): _*)
    state.join(dense, groupCols :+ "day")
      .withColumn("__err", col("fc_micro") - col("y") * 1000000L)
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_evals"),
        sum(abs(col("__err"))).as("err_abs_sum_micro"),
        sum(col("__err")).as("err_sum_micro"),
        sum(abs(col("y") * 1000000L)).as("__act_abs"))
      .withColumn("mae_micro",
        call_function("div", col("err_abs_sum_micro"), col("n_evals")))
      .withColumn("wape_ppm",
        when(col("__act_abs") > 0L,
          call_function("div", dec(col("err_abs_sum_micro")) * 1000000L,
            dec(col("__act_abs"))).cast("long")))
      .drop("__act_abs")
  }

  /** Quantile normalization across groups (Bolstad et al. 2003, the
    * batch-effect remover of bioinformatics / the feature-distribution
    * aligner of ML preprocessing): map each group's value distribution
    * onto the POOLED distribution, so every group ends up with the same
    * marginal. A value block at doubled midrank `r2 = 2*minrank + cnt - 1`
    * inside a group of `n_g` rows maps to the pooled sorted multiset's
    * element at 0-based index `i = (r2 - 1) * N div (2 * n_g)` — midpoint
    * rank scaling, all-integer, total and deterministic under ties.
    * Returns the per-(group, value) mapping `(group, v, cnt, norm_v)`;
    * joining it back onto raw rows is the caller's one equi-join.
    *
    * Scale shape: two value rollups ([[graft.operators.Ranking.valueRanks]]
    * per group + pooled) and ONE range join whose size is
    * distinct(group blocks) x distinct(pooled values) — quantize
    * unbounded doubles first (the cents-then-bins recipe); the pooled
    * rollup raises past `maxDistinct` (its cum-sum window is
    * single-partition by construction, the valueRanks guard).
    */
  def quantileNormalize(df: DataFrame, groupCols: Seq[String],
      valueCol: Column, maxDistinct: Long = 10000L): DataFrame = {
    require(groupCols.nonEmpty,
      "quantileNormalize needs groupCols — with one group it is the identity")
    val gcols = groupCols.map(col)
    val gr = graft.operators.Ranking.valueRanks(df, groupCols, valueCol)
      .withColumn("ng",
        sum(col("n_rows")).over(Window.partitionBy(gcols: _*)))
    val pooled = graft.operators.Ranking
      .valueRanks(df, Nil, valueCol, maxDistinct)
      .select(col("v").as("norm_v"), (col("rnk") - 1L).as("__lo"),
        (col("rnk") - 1L + col("n_rows")).as("__hi"))
    val n = df.filter(valueCol.isNotNull).agg(count(lit(1)).as("__n"))
    val mapped = gr.crossJoin(broadcast(n))
      .withColumn("__i", call_function("div",
        (col("rnk") * 2L + col("n_rows") - 2L) * col("__n"),
        col("ng") * 2L))
    mapped.join(pooled,
        mapped("__i") >= pooled("__lo") && mapped("__i") < pooled("__hi"))
      .select(gcols ++ Seq(col("v"), col("n_rows").as("cnt"),
        col("norm_v")): _*)
  }

  /** Benford first-significant-digit audit (Newcomb 1881 / Benford 1938;
    * the standard anomaly screen for amount columns — fabricated or
    * re-binned data drifts from the log distribution). Input must be a
    * POSITIVE integer expression in fixed-point units (the cents recipe):
    * the leading digit of an integer is string-safe on every engine, and
    * power-of-ten scaling does not change the first significant digit, so
    * auditing cents audits dollars.
    *
    * Emits exactly 9 rows (digits 1-9; a digit the data never produces
    * still appears with n_obs = 0 — a starved digit is the loudest
    * Benford violation, so it cannot be allowed to vanish from the
    * output). Expected shares are the exact literals
    * round(1e6*log10(1+1/d)), which sum to exactly 1,000,000;
    * `chi_contrib_micro = (n*1e6 - exp_ppm*total)^2 div (exp_ppm*total*1e6)`
    * is each digit's exact-integer chi-square contribution in micro-units
    * (sum across the 9 rows and compare to the chi-sq(8) critical value).
    * Squares ride DECIMAL(38,0): n*1e6 is ~1e18 at a billion rows and its
    * square is far past 64 bits.
    *
    * Shape: one 9-group partial-agg rollup over the scan (map-side
    * combine collapses to <=9 rows per task), broadcast-joined onto a
    * 9-row literal digit spine. Nothing here grows with data volume.
    */
  def benfordAudit(df: DataFrame, unitsCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // round(1e6 * log10(1 + 1/d)) for d = 1..9; sums to exactly 1e6
    val expPpm = Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L,
      57992L, 51153L, 45757L)
    val obs = df.select(unitsCol.cast("long").as("__u"))
      .filter(col("__u") > 0L)
      .groupBy(substring(col("__u").cast("string"), 1, 1).cast("int").as("digit"))
      .agg(count(lit(1)).as("__n"))
    val spine = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"),
        element_at(array(expPpm.map(lit): _*), col("id").cast("int"))
          .as("expected_ppm"))
    val joined = spine.join(broadcast(obs), Seq("digit"), "left")
      .withColumn("n_obs", coalesce(col("__n"), lit(0L)))
      .withColumn("total", sum(col("n_obs")).over(Window.partitionBy(lit(1))))
    joined
      .withColumn("observed_ppm",
        call_function("div", col("n_obs") * 1000000L, col("total")))
      .withColumn("chi_contrib_micro",
        call_function("div",
          dec(col("n_obs") * 1000000L - col("expected_ppm") * col("total")) *
            (col("n_obs") * 1000000L - col("expected_ppm") * col("total")),
          dec(col("expected_ppm")) * col("total") * 1000000L).cast("long"))
      .select(col("digit"), col("n_obs"), col("expected_ppm"),
        col("observed_ppm"), col("chi_contrib_micro"))
  }

  /** Mann-Kendall monotonic-trend test with Sen's slope (Mann 1945,
    * Kendall 1975, Sen 1968) over a per-group DAILY series — the
    * distribution-free "is this metric drifting" detector that pairs with
    * [[changepointDaily]] (which localizes a break this test only
    * globally confirms).
    *
    * Exact integer outputs per group:
    *  - `s_stat`   = sum over day pairs i<j of sign(y_j - y_i);
    *  - `var18`    = 18*Var(S) with the standard tie correction:
    *                 n(n-1)(2n+5) - sum_t t(t-1)(2t+5) over tied-value
    *                 groups (kept un-divided — exact, engine-portable);
    *  - `significant` at two-sided alpha 0.05 via the continuity-corrected
    *                 normal test, sqrt-free: |S|>1 and
    *                 1e4*18*(|S|-1)^2 > 38416*var18  (38416 = 1e4*1.96^2),
    *                 both sides in DECIMAL(38,0) — S^2 alone overflows a
    *                 BIGINT once a series passes ~55k days/points;
    *  - `sen_slope_ppm` = the LOWER MEDIAN (smallest value whose cumulative
    *                 pair count reaches ceil(pairs/2)) of the pairwise
    *                 slopes sign(dy)*((|dy|*1e6) div dd) — sign-magnitude
    *                 truncation, because Spark `div` truncates while
    *                 DuckDB `//` floors on negatives.
    *
    * Scale shape: the raw scan rolls up to ONE row per (group, day) first;
    * everything pairwise is over the daily series, so cost is bounded by
    * the calendar (n days ~ thousands), NOT data volume — at 100 TB the
    * self-join is a few million tiny rows per group, parallel across
    * groups. The slope median runs on a (group, slope) rollup, never raw
    * pairs. The calendar-boundedness is ENFORCED: any group exceeding
    * `maxDays` distinct days raises before the pair fan-out runs.
    */
  def mannKendallDaily(df: DataFrame, groupCols: Seq[String], dayCol: Column,
      valueCol: Column, maxDays: Long = 100000L): DataFrame = {
    require(groupCols.nonEmpty,
      "mannKendallDaily needs groupCols — wrap an ungrouped series in a " +
        "constant group")
    require(maxDays >= 2, s"maxDays: $maxDays")
    val gcols = groupCols.map(col)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // pair-volume guard (module contract, the littlesLawAudit pattern):
    // the O(d^2) fan-out below is only safe because d is calendar-bounded;
    // a mis-call passing a timestamp-grain column would go quadratic
    // silently. Count days per group with a LINEAR window inside the
    // checkpointed rollup so the raise fires at materialization, BEFORE
    // any pair stage runs.
    val wg = Window.partitionBy(gcols: _*)
    val guard = when(count(lit(1)).over(wg) > maxDays,
      raise_error(lit(s"mannKendallDaily exceeded $maxDays distinct days " +
        "in one group — dayCol must be daily-grain (a timestamp-grain " +
        "mis-call generates quadratic pairs); pre-aggregate or raise " +
        "maxDays deliberately")).cast("long")).otherwise(lit(0L))
    val daily = df.groupBy(gcols :+ dayCol.cast("long").as("day"): _*)
      .agg(sum(valueCol.cast("long")).as("y"))
      .withColumn("y", col("y") + guard)
      .pinLazy() // feeds pairs, ties, and n — one materialization
    val a = daily.select(gcols ++ Seq(col("day").as("di"), col("y").as("yi")): _*)
    val b = daily.select(gcols ++ Seq(col("day").as("dj"), col("y").as("yj")): _*)
    // broadcast the right side: the day table is calendar-bounded, so it
    // is broadcastable BY CONSTRUCTION, and a broadcast hash join makes
    // pair GENERATION parallel over the left side's partitions — a
    // shuffled join here keys on groupCols alone, whose cardinality (a
    // handful of segments) would cap the O(d^2) pair work at that many
    // tasks (measured 2.4x on 3 groups x 2.5k days)
    val pairs = a.join(broadcast(b), groupCols).filter(col("di") < col("dj"))
      .withColumn("__dy", col("yj") - col("yi"))
      // greatest(..., 1) only shields rows the di < dj filter drops from a
      // reordered ANSI division (the q436 lesson — without the checkpoint
      // barrier Catalyst may evaluate the division beside the filter);
      // kept rows always have dj - di >= 1, so the slope is unchanged
      .withColumn("slope_ppm",
        signum(col("__dy")).cast("long") *
          call_function("div", abs(col("__dy")) * 1000000L,
            greatest(col("dj") - col("di"), lit(1L))))
    val ties = daily.groupBy(gcols :+ col("y"): _*)
      .agg(count(lit(1)).as("t"))
      .groupBy(gcols: _*)
      .agg(sum(col("t") * (col("t") - 1L) * (col("t") * 2L + 5L)).as("__tie"),
        sum(col("t")).as("n_days"))
      .withColumn("var18",
        col("n_days") * (col("n_days") - 1L) * (col("n_days") * 2L + 5L) -
          col("__tie"))
    // Sen's lower median = the element at rank ceil(P/2) of the slope
    // multiset. The obvious (group | ORDER BY slope) window caps at the
    // GROUP cardinality (3 segments -> 3 tasks sorting ~3M pair slopes
    // each). Optimization r15 (guide §2.4: remove shuffles outright):
    // the previous form range-partitioned the pairs on (group, slope) —
    // which COMPUTED THE PAIR JOIN TWICE (RangePartitioner samples its
    // input with a full pass before the exchange runs), materialized the
    // full pair set a second time, and collected per-partition counts to
    // the driver. Replaced by exact histogram rank selection over ONE
    // compact materialization of (group, slope):
    //   pass 1 — per-group S statistic, pair count P and slope extrema in
    //            one aggregate (sign(slope) == sign(dy) exactly: |dy| >= 1
    //            scales to >= 1e6 before the div);
    //   pass 2 — fixed 8192-bucket histogram per group with a width
    //            derived from the extrema; a per-group window over the
    //            <= 8192-row histogram finds the bucket covering the
    //            target rank ceil(P/2) and the rank mass before it;
    //   pass 3 — (group, slope) value rollup WITHIN the covering bucket
    //            only, cumulative-window selection of the covering value.
    // The slope frame is NOT pinned: each pass regenerates the pairs with
    // a broadcast hash join from the checkpointed calendar-bounded `daily`
    // (measured 0.9 s to regenerate 9.4M pairs vs 2.3 s to materialize the
    // checkpoint plus ~1-2 s PER READ of the stored 4.7M-row frame — the
    // recompute is cheaper than one checkpoint read, and column pruning
    // trims each regeneration to the columns that pass touches). No driver
    // collect, no full-volume sort. Selection is by cumulative COUNT, so
    // the value at the target rank is identical to the sorted-rank form
    // for any tie layout. Degenerate worst case (every pair in one bucket)
    // degrades to a value rollup of that bucket — still value-grain, never
    // raw-pair-grain, and bounded by 1/8192 of the slope range.
    // Before/after numbers: OPTIMIZATION_r15.md.
    val slopes = pairs.select(gcols :+ col("slope_ppm"): _*)
    val nBuckets = 8192L
    val gstats = slopes.groupBy(gcols: _*)
      .agg(coalesce(sum(signum(col("slope_ppm")).cast("long")), lit(0L))
        .as("s_stat"),
        count(lit(1)).as("__p"),
        min(col("slope_ppm")).as("__lo"), max(col("slope_ppm")).as("__hi"))
      .withColumn("__target",
        call_function("div", col("__p") + 1L, lit(2L)))
      .withColumn("__w",
        greatest(lit(1L), call_function("div",
          col("__hi") - col("__lo"), lit(nBuckets)) + 1L))
      .pinLazy() // one row per group; feeds output + both passes
    val sStat = gstats.select(gcols :+ col("s_stat"): _*)
    val bucketed = slopes
      .join(broadcast(gstats.select(gcols :+ col("__lo") :+ col("__w") :+
        col("__target"): _*)), groupCols)
      .withColumn("__b", call_function("div",
        col("slope_ppm") - col("__lo"), col("__w")))
    val wCum = Window.partitionBy(gcols: _*).orderBy(col("__b").asc)
    val covering = bucketed
      .groupBy(gcols :+ col("__target") :+ col("__lo") :+ col("__w") :+
        col("__b"): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .filter(col("__cum") >= col("__target") &&
        col("__cum") - col("__c") < col("__target"))
      .select(gcols :+ col("__b") :+ (col("__cum") - col("__c")).as("__before") :+
        col("__target") :+ col("__lo") :+ col("__w"): _*)
    val wVal = Window.partitionBy(gcols: _*).orderBy(col("slope_ppm").asc)
    val sen = slopes
      .join(broadcast(covering), groupCols)
      .filter(call_function("div",
        col("slope_ppm") - col("__lo"), col("__w")) === col("__b"))
      .groupBy(gcols :+ col("__before") :+ col("__target") :+
        col("slope_ppm"): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cumv", col("__before") + sum(col("__c")).over(wVal))
      .filter(col("__cumv") >= col("__target") &&
        col("__cumv") - col("__c") < col("__target"))
      .select(gcols :+ col("slope_ppm").as("sen_slope_ppm"): _*)
    sStat.join(ties, groupCols).join(sen, groupCols)
      .withColumn("significant",
        abs(col("s_stat")) > 1L &&
          dec(abs(col("s_stat")) - 1L) * (abs(col("s_stat")) - 1L) * 180000L >
            dec(col("var18")) * 38416L)
      .select(gcols ++ Seq(col("n_days"), col("s_stat"), col("var18"),
        col("significant"), col("sen_slope_ppm")): _*)
  }

  /** Exact per-group WEIGHTED quantiles (`percentile_disc` semantics over
    * a weight measure): the smallest value whose cumulative weight reaches
    * `ceil(q * total_weight / 1000)` — "the p50 order value BY REVENUE",
    * the distribution question unweighted quantiles get wrong whenever
    * weight concentrates (a handful of whale rows ARE most of the
    * measure). Same distinct-value-rollup shape as [[exactQuantiles]]:
    * the windows run over the value DOMAIN per group, never raw rows; the
    * rank test is the cross-multiplied integer pair
    * `cum*1000 >= q*tot && (cum-w)*1000 < q*tot`, so zero-weight values
    * can never be selected (their two cumulatives coincide). Rows with a
    * NULL value or NULL weight are excluded; weights are non-negative
    * longs by contract.
    */
  def weightedQuantiles(df: DataFrame, groupCols: Seq[String],
      valueCol: Column, weightCol: Column, qMilles: Seq[Int]): DataFrame = {
    require(qMilles.nonEmpty && qMilles.forall(q => q > 0 && q <= 1000),
      s"qMilles must be in (0, 1000]: $qMilles")
    require(qMilles.distinct == qMilles, s"duplicate quantiles: $qMilles")
    val gcols = groupCols.map(col)
    val counts = df.filter(valueCol.isNotNull && weightCol.isNotNull)
      .groupBy(gcols :+ valueCol.as("v"): _*)
      .agg(sum(weightCol.cast("long")).as("w"))
    val byVal = Window.partitionBy(gcols: _*).orderBy(col("v").asc)
    val whole = Window.partitionBy(gcols: _*)
    counts
      .withColumn("cum", sum(col("w")).over(byVal))
      .withColumn("tot", sum(col("w")).over(whole))
      .select(gcols ++ Seq(col("v"), col("w"), col("cum"), col("tot"),
        explode(array(qMilles.map(q => lit(q)): _*)).as("q_mille")): _*)
      .filter(col("cum") * 1000L >= col("q_mille").cast("long") * col("tot") &&
        (col("cum") - col("w")) * 1000L <
          col("q_mille").cast("long") * col("tot"))
      .select(gcols ++ Seq(col("q_mille"), col("v").as("value"),
        col("tot").as("total_weight")): _*)
  }

  /** Distribution-free confidence band for a per-group quantile (the
    * order-statistic / binomial-rank method): the point estimate is the
    * [[exactQuantiles]] rank cut, and the band is the pair of order
    * statistics at ranks `floor(np - z*sqrt(np(1-p)))` and
    * `ceil(np + z*sqrt(np(1-p)))` (clamped to [1, n]) — error bars on
    * your p95 with NO distributional assumption. The rank arithmetic is
    * the one IEEE region (products + one correctly-rounded sqrt +
    * floor/ceil, identical on any engine from the same integer n and
    * decimal literals); everything else — the rollup, the rank-covering
    * selection — is exact integers. All three values are ACTUAL data
    * values (order statistics), never interpolations.
    *
    * Same distinct-value-rollup shape as [[exactQuantiles]]; the three
    * rank lookups ride ONE pass (each rank is covered by exactly one
    * cumulative row, so a conditional max per rank resolves them all).
    */
  def quantileCi(df: DataFrame, groupCols: Seq[String], valueCol: Column,
      qMille: Int, zMilli: Int = 1960): DataFrame = {
    require(qMille >= 1 && qMille <= 999, s"qMille: $qMille")
    require(zMilli >= 1, s"zMilli: $zMilli")
    val gcols = groupCols.map(col)
    val p = qMille / 1000.0
    val z = zMilli / 1000.0
    val counts = df.filter(valueCol.isNotNull)
      .groupBy(gcols :+ valueCol.cast("long").as("v"): _*)
      .agg(count(lit(1)).as("cnt"))
    val byVal = Window.partitionBy(gcols: _*).orderBy(col("v").asc)
    val whole = Window.partitionBy(gcols: _*)
    val np = col("tot").cast("double") * lit(p)
    val se = sqrt(col("tot").cast("double") * lit(p) * lit(1.0 - p))
    val scored = counts
      .withColumn("cum", sum(col("cnt")).over(byVal))
      .withColumn("tot", sum(col("cnt")).over(whole))
      .withColumn("__lo",
        greatest(lit(1L), floor(np - lit(z) * se).cast("long")))
      .withColumn("__hi",
        least(col("tot"), ceil(np + lit(z) * se).cast("long")))
    def covers(r: Column) = (col("cum") - col("cnt")) < r && r <= col("cum")
    scored.groupBy(gcols: _*)
      .agg(max(col("tot")).as("n"),
        max(when(covers(col("__lo")), col("v"))).as("ci_low"),
        max(when(col("cum") * 1000L >= lit(qMille.toLong) * col("tot") &&
          (col("cum") - col("cnt")) * 1000L < lit(qMille.toLong) * col("tot"),
          col("v"))).as("value"),
        max(when(covers(col("__hi")), col("v"))).as("ci_high"))
      .select(gcols ++ Seq(lit(qMille).as("q_mille"), col("n"),
        col("ci_low"), col("value"), col("ci_high")): _*)
  }

  /** Coefficient-of-variation (squared) of positive durations per group —
    * the EXPONENTIALITY check for inter-arrival/service times (a Poisson
    * process has CV = 1; CV^2 far above = heavy-tailed/bursty gaps, far
    * below = regularized): sample
    * `CV^2 = n * (n*sum(x^2) - S^2) div ((n-1) * S^2)` in ppm — ONE
    * truncating DECIMAL division (the [[fanoFactor]] form with the mean
    * squared in the denominator). Groups with n < 2 or S = 0 emit NULL.
    */
  def durationCv2(df: DataFrame, groupCols: Seq[String],
      valueCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "durationCv2 needs group columns")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val gcols = groupCols.map(col)
    df.filter(valueCol.isNotNull)
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n"), sum(valueCol.cast("long")).as("s"),
        sum(dec(valueCol.cast("long")) * dec(valueCol.cast("long")))
          .as("__ss"))
      .select(gcols ++ Seq(col("n"), col("s"),
        when(col("n") > 1L && col("s") > 0L,
          call_function("div",
            dec(col("n")) * (dec(col("n")) * col("__ss") -
              dec(col("s")) * dec(col("s"))) * dec(lit(1000000L)),
            dec(col("n") - 1L) * dec(col("s")) * dec(col("s")))
            .cast("long")).as("cv2_ppm")): _*)
  }

  /** Multiplicative day-of-week seasonal index per group: the ratio of
    * each weekday's mean volume to the overall mean, as one exact
    * cross-multiplied ppm division
    * `sum_dow * n_days * 1e6 div (n_dow_days * S)` — the demand-planning
    * seasonal factor table (divide a day's actual by its factor to
    * deseasonalize; 1e6 = an average day). Day indexes are epoch days,
    * `dow = day mod 7` (epoch day 0 = a Thursday; the label is a
    * positional convention both engines share — callers wanting ISO
    * labels map it downstream). Days ABSENT from the data are absent
    * from both numerator and denominator: the index describes observed
    * days, zero-filling is the caller's densify decision.
    *
    * Shape: one (group, day) rollup, one (group, dow) rollup, a
    * broadcast per-group totals join. Calendar-bounded everywhere.
    */
  def dowSeasonalIndex(df: DataFrame, groupCols: Seq[String],
      dayCol: Column, valueCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "dowSeasonalIndex needs group columns")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val gcols = groupCols.map(col)
    val daily = df.groupBy(gcols :+ dayCol.cast("long").as("__d"): _*)
      .agg(sum(valueCol.cast("long")).as("__v"))
      .pinLazy() // feeds the dow rollup and the totals
    val byDow = daily
      .groupBy(gcols :+ pmod(col("__d"), lit(7L)).as("dow"): _*)
      .agg(count(lit(1)).as("n_days"), sum(col("__v")).as("dow_sum"))
    val tot = daily.groupBy(gcols: _*)
      .agg(count(lit(1)).as("__nd"), sum(col("__v")).as("__s"))
    // non-negative volumes by contract (counts, cents) — one truncating
    // division, no sign gymnastics
    byDow.join(broadcast(tot), groupCols)
      .select(gcols ++ Seq(col("dow"), col("n_days"), col("dow_sum"),
        when(col("__s") > 0L && col("n_days") > 0L,
          call_function("div",
            dec(col("dow_sum")) * dec(col("__nd")) * dec(lit(1000000L)),
            dec(col("n_days")) * dec(col("__s"))).cast("long"))
          .as("index_ppm")): _*)
  }

  /** Maximum drawdown of a per-group level series: the largest
    * peak-to-trough drop `running_max(level) - level` in series order,
    * with the (earliest) trough position and the peak level preceding it
    * — the finance-grade "how bad did it get" risk metric, equally the
    * sustained-regression readout for a KPI level series (a drawdown is
    * what an alert SHOULD have fired on; a single bad day is not). Exact
    * integers: one running-max window per key, a struct-argmax for
    * (largest drawdown, then earliest trough). Groups where the series
    * only rises report 0 drawdown at the first point.
    *
    * Shape: one key-partitioned window over the (key, order) rollup
    * domain — calendar-bounded, the [[mannKendallDaily]] daily
    * convention; no self-joins, no pair volume.
    */
  def maxDrawdown(df: DataFrame, groupCols: Seq[String], orderCol: Column,
      levelCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "maxDrawdown needs group columns")
    val gcols = groupCols.map(col)
    val daily = df.groupBy(gcols :+ orderCol.cast("long").as("t"): _*)
      .agg(sum(levelCol.cast("long")).as("lvl"))
    val w = Window.partitionBy(gcols: _*).orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("__peak", max(col("lvl")).over(w))
      .withColumn("__dd", col("__peak") - col("lvl"))
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_points"),
        max(struct(col("__dd").as("d"), (-col("t")).as("nt"),
          col("__peak").as("p"))).as("__mx"))
      .select(gcols ++ Seq(col("n_points"),
        col("__mx.d").as("max_drawdown"),
        (-col("__mx.nt")).as("trough_at"),
        col("__mx.p").as("peak_level")): _*)
  }

  /** Exact per-group TRIMMED mean: drop the lowest and highest
    * `trimMille`/1000 of ROWS (by rank, ties split arithmetically across
    * the boundary value) and average the middle — the robust center that,
    * unlike winsorizing, refuses to let tails vote at all (the metric-
    * dashboard convention for latency and spend means). All integer: the
    * kept-rank interval is `[l+1, n-l]` with `l = n*trimMille div 1000`;
    * each distinct value contributes `overlap([cum-cnt+1, cum], kept)`
    * rows, and the mean is ONE final micro division.
    *
    * Same distinct-value-rollup shape as [[exactQuantiles]] — windows
    * over the value domain per group, never raw rows. Degenerate groups
    * (all rows trimmed, n <= 2l) emit NULL mean with `n_kept = 0`.
    */
  def trimmedMean(df: DataFrame, groupCols: Seq[String], valueCol: Column,
      trimMille: Int): DataFrame = {
    require(trimMille >= 1 && trimMille < 500, s"trimMille: $trimMille")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val gcols = groupCols.map(col)
    val counts = df.filter(valueCol.isNotNull)
      .groupBy(gcols :+ valueCol.cast("long").as("v"): _*)
      .agg(count(lit(1)).as("cnt"))
    val byVal = Window.partitionBy(gcols: _*).orderBy(col("v").asc)
    val whole = Window.partitionBy(gcols: _*)
    counts
      .withColumn("cum", sum(col("cnt")).over(byVal))
      .withColumn("tot", sum(col("cnt")).over(whole))
      .withColumn("__l",
        call_function("div", col("tot") * trimMille.toLong, lit(1000L)))
      .withColumn("__kept",
        greatest(lit(0L),
          least(col("cum"), col("tot") - col("__l")) -
            greatest(col("cum") - col("cnt") + 1L, col("__l") + 1L) + 1L))
      .groupBy(gcols: _*)
      .agg(max(col("tot")).as("n"),
        coalesce(sum(col("__kept")), lit(0L)).as("n_kept"),
        sum(dec(col("__kept")) * dec(col("v"))).as("__s"))
      .select(gcols ++ Seq(col("n"), col("n_kept"),
        when(col("n_kept") > 0L,
          call_function("div", col("__s") * dec(lit(1000000L)),
            dec(col("n_kept"))).cast("long")).as("trimmed_mean_micro")): _*)
  }

  /** Total-variation distance between two categorical distributions —
    * the log-free drift metric (unlike KL/PSI it needs no logarithm, so
    * it stays EXACT): `TV = (1/2) sum_i |p_i - q_i|`, here as ONE
    * DECIMAL division `sum(|c_a*N_b - c_b*N_a|) * 1e6 div (2*N_a*N_b)` —
    * no per-category share truncation accumulates. TV is the maximum
    * probability mass any event can differ by (the tightest
    * distribution-shift bound there is); ppm 0 = identical mixes,
    * 1e6 = disjoint support. Rows are split into the A population by
    * `inA`; categories missing from one side contribute their full mass,
    * which is exactly what makes TV catch vanished/new categories that
    * binned KS misses.
    *
    * Shape: one (category) rollup carrying both populations' counts as
    * conditional sums, one global agg. Nothing scales past the category
    * domain.
    */
  def totalVariationDrift(df: DataFrame, inA: Column,
      catCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val counts = df.filter(catCol.isNotNull)
      .groupBy(catCol.as("__c"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("__ca"),
        sum(when(inA, 0L).otherwise(1L)).as("__cb"))
      .pinLazy() // feeds the totals agg AND the abs pass
    val totals = counts.agg(count(lit(1)).as("n_cats"),
      coalesce(sum(col("__ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("__cb")), lit(0L)).as("n_b"))
    counts.crossJoin(broadcast(totals))
      .agg(first(col("n_cats")).as("n_cats"),
        first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        sum(abs(dec(col("__ca")) * dec(col("n_b")) -
          dec(col("__cb")) * dec(col("n_a")))).as("__s"))
      .select(col("n_cats"), col("n_a"), col("n_b"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          call_function("div", col("__s") * dec(lit(1000000L)),
            dec(lit(2L)) * dec(col("n_a")) * dec(col("n_b"))).cast("long"))
          .as("tv_ppm"))
  }

  /** Fano factor (index of dispersion) of a per-group count series:
    * `variance / mean` of the daily counts — the "is this Poisson?"
    * gate for event-rate monitoring (ppm ~1e6 is Poisson-like, far above
    * is bursty/clustered arrivals, far below is regularized/rate-limited
    * traffic; Cox & Lewis 1966). The ratio collapses to ONE exact
    * division: population `var/mean = (n*sum(c^2) - S^2) div (n*S)` with
    * `S = sum(c)` — numerator non-negative by Cauchy-Schwarz, products
    * through DECIMAL(38,0), a single truncating ppm division. Groups with
    * `S = 0` emit NULL (no rate to be dispersed around).
    *
    * The input is a (group, bucket) count rollup — at scale the buckets
    * are calendar days from one partial-agg pass, so the dispersion scan
    * is over the bucket domain, never raw events.
    */
  def fanoFactor(df: DataFrame, groupCols: Seq[String],
      countCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "fanoFactor needs group columns")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val gcols = groupCols.map(col)
    df.groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_buckets"),
        sum(countCol.cast("long")).as("s"),
        sum(dec(countCol.cast("long")) * dec(countCol.cast("long")))
          .as("__ss"))
      .select(gcols ++ Seq(col("n_buckets"), col("s"),
        when(col("s") > 0L,
          call_function("div",
            (dec(col("n_buckets")) * col("__ss") -
              dec(col("s")) * dec(col("s"))) * dec(lit(1000000L)),
            dec(col("n_buckets")) * dec(col("s"))).cast("long"))
          .as("fano_ppm")): _*)
  }

  /** Seasonal-naive MASE: the scaled forecast-quality readout that makes
    * error comparable across series — here, the seasonal-naive forecast
    * (`y_{t-period}`) scored against the one-step naive scale
    * (`y_{t-1}`): `mase_ppm = sum|y - y_{t-p}| * 1e6 div sum|y - y_{t-1}|`
    * per group, exact integers end to end (below 1e6 means "knowing the
    * weekly shape beats knowing yesterday"). Only days where BOTH lags
    * exist score (equi self-joins on the daily rollup — co-partitioned,
    * no windows). One row per group: (n_days, sae_seasonal, sae_naive,
    * mase_ppm).
    */
  def seasonalNaiveMase(df: DataFrame, groupCols: Seq[String], dayCol: Column,
      valueCol: Column, period: Int = 7): DataFrame = {
    require(period >= 2, s"period: $period")
    val gcols = groupCols.map(col)
    val daily = df.groupBy(gcols :+ dayCol.cast("long").as("day"): _*)
      .agg(sum(valueCol.cast("long")).as("y"))
      .pinLazy() // feeds all three join arms
    val lag1 = daily.select(gcols :+ (col("day") + 1L).as("day") :+
      col("y").as("y1"): _*)
    val lagP = daily.select(gcols :+ (col("day") + period.toLong).as("day") :+
      col("y").as("yp"): _*)
    daily.join(lag1, groupCols :+ "day")
      .join(lagP, groupCols :+ "day")
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("y") - col("yp"))).as("sae_seasonal"),
        sum(abs(col("y") - col("y1"))).as("sae_naive"))
      .withColumn("mase_ppm",
        when(col("sae_naive") > 0L,
          call_function("div",
            col("sae_seasonal").cast("decimal(38,0)") * 1000000L,
            col("sae_naive").cast("decimal(38,0)")).cast("long")))
  }

  /** Pinball (quantile) loss of a per-group quantile forecast against
    * held-out actuals — the metric that makes "was the p90 a good p90"
    * scoreable: per test row,
    * `loss_milli = pMille*(y-q)` when `y > q`, else
    * `(1000-pMille)*(q-y)` — exact integers; a perfectly calibrated
    * quantile minimizes the sum. `quantiles` carries the group columns
    * plus a `value` column (the [[exactQuantiles]] output shape). One
    * row per group: (q_value, n_test, total_loss_milli, avg_loss_milli).
    */
  def pinballLoss(test: DataFrame, groupCols: Seq[String], valueCol: Column,
      quantiles: DataFrame, pMille: Int): DataFrame = {
    require(pMille > 0 && pMille < 1000, s"pMille: $pMille")
    require(groupCols.nonEmpty, "pinballLoss needs group columns")
    val gcols = groupCols.map(col)
    val q = quantiles.select(gcols :+
      col("value").cast("long").as("__q"): _*)
    val joined = test.filter(valueCol.isNotNull)
      .select(gcols :+ valueCol.cast("long").as("__y"): _*)
      .join(broadcast(q), groupCols)
    joined
      .withColumn("__loss",
        when(col("__y") > col("__q"),
          lit(pMille.toLong) * (col("__y") - col("__q")))
          .otherwise(lit(1000L - pMille) * (col("__q") - col("__y"))))
      .groupBy(gcols: _*)
      .agg(max(col("__q")).as("q_value"), count(lit(1)).as("n_test"),
        sum(col("__loss")).as("total_loss_milli"))
      .withColumn("avg_loss_milli",
        call_function("div", col("total_loss_milli"), col("n_test")))
  }

  /** Forecast-bias diagnostics for the seasonal-naive forecast —
    * [[seasonalNaiveMase]]'s companion panel: Theil's U2
    * `sqrt(sum(y - y_{t-p})^2 / sum(y - y_{t-1})^2)` (below 1 = the
    * forecast beats naive on SQUARED error, complementing MASE's
    * absolute scale) and the tracking signal `n * sum(e) / sum|e|`
    * (cumulative signed error over the mean absolute deviation — the
    * demand-planning drift alarm; the SIGNED numerator never passes an
    * integral division). Squared-error sums ride DECIMAL(38,0); both
    * statistics are fixed IEEE chains. Same both-lags-exist join
    * contract as MASE. One row per group:
    * (n_days, sum_err, sum_abs_err, theil_u2, tracking_signal).
    */
  def theilTracking(df: DataFrame, groupCols: Seq[String], dayCol: Column,
      valueCol: Column, period: Int = 7): DataFrame = {
    require(period >= 2, s"period: $period")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val gcols = groupCols.map(col)
    val daily = df.groupBy(gcols :+ dayCol.cast("long").as("day"): _*)
      .agg(sum(valueCol.cast("long")).as("y"))
      .pinLazy() // feeds all three join arms
    val lag1 = daily.select(gcols :+ (col("day") + 1L).as("day") :+
      col("y").as("y1"): _*)
    val lagP = daily.select(gcols :+ (col("day") + period.toLong).as("day") :+
      col("y").as("yp"): _*)
    val e = col("y") - col("yp")
    val en = col("y") - col("y1")
    daily.join(lag1, groupCols :+ "day")
      .join(lagP, groupCols :+ "day")
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_days"),
        sum(e).as("sum_err"),
        sum(abs(e)).as("sum_abs_err"),
        sum(dec(e) * e).as("__ss"),
        sum(dec(en) * en).as("__sn"))
      .select(gcols ++ Seq(col("n_days"), col("sum_err"), col("sum_abs_err"),
        when(col("__sn") > dec(lit(0L)),
          sqrt(col("__ss").cast("double") / col("__sn").cast("double")))
          .as("theil_u2"),
        when(col("sum_abs_err") > 0L,
          (dec(col("n_days")) * dec(col("sum_err"))).cast("double") /
            col("sum_abs_err").cast("double")).as("tracking_signal")): _*)
  }

  /** Croston's method for INTERMITTENT demand (Croston 1972): when most
    * periods are zero, plain EWMA/Holt forecasts collapse toward zero
    * between demands and spike after each one; Croston smooths demand
    * SIZE `z` and demand INTERVAL `p` separately — updated only on
    * demand periods — and forecasts `z/p` per period. As a truncated
    * fixed-point integer recursion (the [[holtDaily]] discipline):
    * {{{
    * first demand:  z = q*1e6,  p = 1e6 (one period, declared)
    * later, gap = period - previous demand period:
    *   z' = (an*q*1e6   + (ad-an)*z) div ad
    *   p' = (an*gap*1e6 + (ad-an)*p) div ad
    * }}}
    * all operands non-negative, so truncation == floor on every engine.
    * One row per (group, demand period): the raw q and gap plus the
    * post-update state and `forecast_milli = z*1000 div p` in value
    * units per period.
    *
    * Scale shape: one (group, period) rollup (zeros never materialize —
    * the gap is read off the previous demand row inside the fold, no
    * densified spine at all), then the per-group calendar-bounded fold;
    * groups process fully in parallel.
    */
  def crostonDemand(df: DataFrame, groupCols: Seq[String], periodCol: Column,
      qtyCol: Column, alphaNum: Int, alphaDen: Int,
      maxSteps: Int = 100000): DataFrame = {
    require(alphaNum >= 1 && alphaDen > alphaNum,
      s"alpha must be a proper fraction: $alphaNum/$alphaDen")
    val gcols = groupCols.map(col)
    val demand = df.groupBy(gcols :+ periodCol.cast("long").as("period"): _*)
      .agg(sum(qtyCol.cast("long")).as("q"))
      .filter(col("q") > 0L)
    val (an, ad) = (alphaNum, alphaDen)
    val folded = demand
      .groupBy(gcols: _*)
      .agg(sort_array(collect_list(struct(col("period"), col("q")))).as("st"))
      .select(gcols :+ explode(expr(
        s"""CASE WHEN size(st) > $maxSteps THEN
           |  raise_error('crostonDemand exceeded $maxSteps demand periods per group')
           |ELSE
           |  aggregate(st,
           |    CAST(array() AS array<struct<period:bigint,q:bigint,gap:bigint,z:bigint,p:bigint>>),
           |    (acc, x) -> CASE WHEN size(acc) = 0 THEN
           |        array(named_struct('period', x.period, 'q', x.q,
           |          'gap', CAST(1 AS BIGINT),
           |          'z', x.q * 1000000L, 'p', CAST(1000000 AS BIGINT)))
           |      ELSE
           |        array_append(acc, named_struct(
           |          'period', x.period, 'q', x.q,
           |          'gap', x.period - element_at(acc, -1).period,
           |          'z', ($an * x.q * 1000000L
           |                + ${ad - an} * element_at(acc, -1).z) div $ad,
           |          'p', ($an * (x.period - element_at(acc, -1).period) * 1000000L
           |                + ${ad - an} * element_at(acc, -1).p) div $ad))
           |      END)
           |END""".stripMargin)).as("s"): _*)
    folded.select(gcols ++ Seq(col("s.period").as("period"),
      col("s.q").as("q"), col("s.gap").as("gap"),
      col("s.z").as("z_micro"), col("s.p").as("p_micro"),
      call_function("div", col("s.z") * 1000L, col("s.p"))
        .as("forecast_milli")): _*)
  }

  /** Classical additive seasonal decomposition of a per-group daily
    * series: `y = trend + seasonal + residual`, in exact milli-units —
    * the decomposition TABLE behind [[weeklySeasonalityStrength]]'s
    * single index (that answers "is there a weekly shape"; this shows
    * the shape, the trend it rides, and what's left). Steps, all
    * integer-exact:
    *  - spine-densified daily rollup (gaps are zero demand, the
    *    [[ewmaDaily]] convention);
    *  - `trend_milli` = centered `period`-day moving average
    *    (`sum * 1000 div period`; y >= 0 required so the truncation is
    *    engine-agnostic — fixed-point amounts and counts are);
    *    edge days without a full window emit no decomposition row;
    *  - `detrended_milli = y*1000 - trend_milli` (may be negative —
    *    a subtraction, never a negative division);
    *  - `seasonal_milli` per (group, day mod period): the mean of
    *    detrended values via SIGN-WRAPPED truncating division
    *    (Spark `div` truncates toward zero, DuckDB `//` floors —
    *    identical only via sign-magnitude, the q274/q304 rule);
    *  - `residual_milli = detrended_milli - seasonal_milli`.
    *
    * Scale: one (group, day) rollup, the spine window per group
    * (calendar-bounded), one (group, phase) rollup broadcast-joined
    * back. dow = epoch-day mod period, never an engine-specific
    * dayofweek (the q204 rule).
    */
  def seasonalDecompose(df: DataFrame, groupCols: Seq[String],
      dayCol: Column, valueCol: Column, period: Int = 7): DataFrame = {
    require(groupCols.nonEmpty, "seasonalDecompose needs groupCols")
    require(period >= 2 && period % 2 == 1,
      s"period must be odd >= 3 for a centered window: $period")
    val gcols = groupCols.map(col)
    val half = period / 2
    val daily = df.filter(valueCol.isNotNull)
      .groupBy(gcols :+ dayCol.cast("long").as("day"): _*)
      .agg(sum(valueCol.cast("long")).as("y"))
      .pinLazy() // feeds the spine agg AND the dense join
    val spine = daily.groupBy(gcols: _*)
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(gcols :+ explode(sequence(col("mn"), col("mx"))).as("day"): _*)
    val dense = spine.join(daily, groupCols :+ "day", "left")
      .select(gcols ++ Seq(col("day"), coalesce(col("y"), lit(0L)).as("y")): _*)
      .withColumn("y", when(col("y") < 0L,
        raise_error(lit("seasonalDecompose requires non-negative values " +
          "(truncating trend division)")).cast("long")).otherwise(col("y")))
    val w = Window.partitionBy(gcols: _*).orderBy(col("day").asc)
      .rowsBetween(-half, half)
    val detr = dense
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("trend_milli",
        call_function("div", sum(col("y")).over(w) * 1000L,
          lit(period.toLong)))
      .filter(col("__n") === period.toLong)
      .withColumn("detrended_milli", col("y") * 1000L - col("trend_milli"))
      .withColumn("__phase", pmod(col("day"), lit(period.toLong)))
      .pinLazy() // feeds the phase rollup AND the output join
    val sgnDiv = (num: Column, den: Column) =>
      signum(num).cast("long") *
        call_function("div", abs(num), den)
    val seasonal = detr.groupBy(gcols :+ col("__phase"): _*)
      .agg(sgnDiv(sum(col("detrended_milli")), count(lit(1)))
        .as("seasonal_milli"))
    detr.join(seasonal, groupCols :+ "__phase")
      .select(gcols ++ Seq(col("day"), col("y"), col("trend_milli"),
        col("detrended_milli"), col("seasonal_milli"),
        (col("detrended_milli") - col("seasonal_milli"))
          .as("residual_milli")): _*)
  }

  /** Shewhart p-chart (attribute control chart): per (group, day) the
    * defective share against 3-sigma binomial limits around the
    * group's centerline — the SPC sibling of [[graft.operators
    * .EventAnalytics]]'s CUSUM (which detects slow drift; this flags
    * single out-of-control days). Exact integers everywhere a decision
    * rides: `phat_ppm = pos*1e6 div n` per day, centerline
    * `pbar_ppm = tot_pos*1e6 div tot_n`; the limits are the ONE
    * declared IEEE chain `pbar +- 3*sqrt(pbar*(1-pbar)/n_day)` over
    * `pbar = pbar_ppm / 1e6` (mirrored verbatim by the oracle), and
    * the out-of-control flags compare the exact-rational day share
    * `pos/n` (one double division of integers) against them.
    *
    * Shape: one (group, day) rollup, one group rollup broadcast back.
    * Day cardinality is calendar-bounded; groups process in parallel.
    */
  def pChart(df: DataFrame, groupCols: Seq[String], dayCol: Column,
      defectCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "pChart needs groupCols")
    val gcols = groupCols.map(col)
    val daily = df.filter(defectCol.isNotNull)
      .groupBy(gcols :+ dayCol.cast("long").as("day"): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(defectCol, 1L).otherwise(0L)).as("pos"))
      .pinLazy() // feeds the centerline AND the output
    val center = daily.groupBy(gcols: _*)
      .agg(sum(col("n")).as("__tn"), sum(col("pos")).as("__tp"))
      .withColumn("pbar_ppm",
        call_function("div", col("__tp") * 1000000L, col("__tn")))
      .select(gcols :+ col("pbar_ppm"): _*)
    val pbar = col("pbar_ppm").cast("double") / lit(1000000.0)
    val sigma = sqrt(pbar * (lit(1.0) - pbar) / col("n").cast("double"))
    daily.join(broadcast(center), groupCols)
      .withColumn("phat_ppm",
        call_function("div", col("pos") * 1000000L, col("n")))
      .withColumn("ucl", pbar + lit(3.0) * sigma)
      .withColumn("lcl", pbar - lit(3.0) * sigma)
      .withColumn("out_of_control",
        col("pos").cast("double") / col("n").cast("double") > col("ucl") ||
          col("pos").cast("double") / col("n").cast("double") < col("lcl"))
  }

  /** Index of dispersion (variance-to-mean, Fisher) per group over a
    * daily count series — the count-data QA check beside [[pChart]]:
    * Poisson arrivals give D ~ 1; D >> 1 means clumping
    * (bursts/bot traffic), D << 1 regularity (rate limiting). Exact:
    * the chi-square-distributed form `disp = (n-1)s^2 / mean =
    * (n*Sxx - Sx^2) div Sx` in milli (all DECIMAL moments, ONE
    * truncating division — counts are non-negative so truncation is
    * engine-agnostic); the flag is the normal approximation
    * `|disp - (n-1)| > 3 * sqrt(2(n-1))`, one declared IEEE chain.
    * Groups with zero total or a single day emit NULL disp. One
    * (group, day) rollup + one group rollup; spine-densified so
    * zero-count days count as observations (absence IS the signal
    * dispersion measures).
    */
  def dispersionIndex(df: DataFrame, groupCols: Seq[String], dayCol: Column,
      countCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "dispersionIndex needs groupCols")
    val gcols = groupCols.map(col)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = df.filter(countCol.isNotNull)
      .groupBy(gcols :+ dayCol.cast("long").as("day"): _*)
      .agg(sum(countCol.cast("long")).as("x"))
      .pinLazy() // feeds the spine agg AND the dense join
    val spine = daily.groupBy(gcols: _*)
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(gcols :+ explode(sequence(col("mn"), col("mx"))).as("day"): _*)
    val dense = spine.join(daily, groupCols :+ "day", "left")
      .select(gcols ++ Seq(col("day"), coalesce(col("x"), lit(0L)).as("x")): _*)
      .withColumn("x", when(col("x") < 0L,
        raise_error(lit("dispersionIndex requires non-negative counts"))
          .cast("long")).otherwise(col("x")))
    dense.groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("total"),
        sum(dec(col("x")) * col("x")).as("__xx"))
      .withColumn("mean_milli",
        call_function("div", col("total") * 1000L, col("n_days")))
      .withColumn("dispersion_milli",
        when(col("total") > 0L && col("n_days") > 1L,
          call_function("div",
            (dec(col("n_days")) * col("__xx") -
              dec(col("total")) * col("total")) * 1000L,
            dec(col("total"))).cast("long")))
      .withColumn("overdispersed",
        when(col("dispersion_milli").isNotNull,
          (col("dispersion_milli").cast("double") / lit(1000.0) -
            (col("n_days") - 1L).cast("double")) >
            lit(3.0) * sqrt(lit(2.0) * (col("n_days") - 1L).cast("double"))))
      .drop("__xx")
  }
}
