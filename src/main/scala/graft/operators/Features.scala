package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Stats
import graft.engine.Pin.PinOps

/** ML-feature engineering operators for the mart layer: RFM customer
  * segmentation, categorical target encoding, exact-arithmetic correlation,
  * and per-group OLS trend fitting. Everything is integer- (or
  * single-IEEE-step-) exact so results hash-compare across engines, and
  * every shape is a rollup-then-broadcast: the raw fact table shuffles only
  * for its own keyed aggregation, never for a global sort.
  */
object Features {

  /** Round-half-up fixed-point cents for a double money column — the shared
    * quantization recipe (`floor(x*100 + 0.5)`) every oracle mirrors.
    */
  def cents(c: Column): Column = floor(c * 100 + lit(0.5)).cast("long")

  /** RFM (recency / frequency / monetary) segmentation: per customer, days
    * since last order, order count, and lifetime cents, each scored 1–5
    * against the corpus-wide quintile boundaries.
    *
    * Scoring uses QUANTILE BOUNDARIES (percentile_disc p20/p40/p60/p80 via
    * [[Stats.exactQuantiles]]), not ntile: ntile needs one global total
    * order (a single-partition window at scale) and splits ties across
    * buckets non-deterministically under re-partitioning. Boundary scoring
    * is `1 + #{boundaries below the value}` — tied customers always land in
    * the same bucket, and the plan is two rollups + a 1-row broadcast.
    * Recency is scored on the NEGATED day count so 5 = most recent, same
    * formula as the higher-is-better measures.
    *
    * Monetary boundaries are computed on whole DOLLARS (cents div 100):
    * exactQuantiles windows over distinct values, and dollar-binning keeps
    * that domain bounded (~1e5) while leaving scores semantically identical
    * at quintile granularity. The emitted monetary column stays in cents.
    *
    * At 100 TB: one shuffle keyed on the customer for the rollup; the
    * quantile pass windows over rolled-up distinct values only; scores are
    * a broadcast compare. No global sort anywhere.
    */
  def rfm(orders: DataFrame, custCol: String, dateCol: String,
      amountCol: String): DataFrame = {
    val perCust = orders
      .groupBy(col(custCol).cast("long").as("custkey"))
      .agg(max(to_date(col(dateCol))).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(cents(col(amountCol))).as("monetary_cents"))
    // anchor recency at the corpus max order date (broadcast 1-row)
    val anchor = orders.agg(max(to_date(col(dateCol))).as("ref_date"))
    val m = perCust.crossJoin(broadcast(anchor))
      .select(col("custkey"),
        datediff(col("ref_date"), col("last_order")).cast("long").as("recency_days"),
        col("frequency"), col("monetary_cents"))
      // feeds three quintile fence passes AND the final scoring join —
      // unpinned, each consumer re-derived the per-customer rollup from
      // raw orders (plan-audit r12: 6 raw scans -> 2); the pin holds the
      // entity rollup, orders-of-magnitude below the fact table
      .pinLazy()

    def quintiles(value: Column, tag: String): DataFrame = {
      val pivots = Seq(200, 400, 600, 800).map(q =>
        max(when(col("q_mille") === q, col("value"))).as(s"${tag}_q$q"))
      Stats.exactQuantiles(m, Seq.empty, value, Seq(200, 400, 600, 800))
        .groupBy()
        .agg(pivots.head, pivots.tail: _*)
    }

    val dollars = call_function("div", col("monetary_cents"), lit(100L))
    val bounds = quintiles(-col("recency_days"), "r")
      .crossJoin(quintiles(col("frequency"), "f"))
      .crossJoin(quintiles(dollars, "m"))

    def score(value: Column, tag: String): Column =
      Seq(200, 400, 600, 800)
        .map(q => when(value > col(s"${tag}_q$q"), 1).otherwise(0))
        .reduce(_ + _) + lit(1)

    m.crossJoin(broadcast(bounds))
      .withColumn("r_score", score(-col("recency_days"), "r"))
      .withColumn("f_score", score(col("frequency"), "f"))
      .withColumn("m_score", score(dollars, "m"))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4, "champion")
          .when(col("r_score") >= 4 && col("f_score") <= 2, "new")
          .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
          .otherwise("core"))
      .select(col("custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"),
        col("segment"))
  }

  /** Leave-one-out + smoothed target encoding of a categorical column — the
    * feature-engineering standard for high-cardinality categories feeding a
    * model, computed leak-free: each row's own target is excluded from its
    * encoding, and the smoothed variant shrinks small categories toward the
    * global mean with pseudo-count `m`.
    *
    * All arithmetic is exact integer division over cent-quantized targets
    * (`enc_loo = (sum - own) div (cnt - 1)`;
    * `enc_smooth = (sum + m*globalMean) div (cnt + m)` with the global mean
    * itself an integer div) so encodings hash-compare across engines.
    * Singleton categories have no leave-one-out signal -> NULL, the honest
    * answer (callers impute with `enc_smooth`).
    *
    * Scale shape: one partial-agg shuffle keyed on the category, a 1-row
    * global rollup, and two broadcast joins back onto the fact rows. The
    * category rollup is bounded by category cardinality, never row count.
    */
  def targetEncode(df: DataFrame, keyCol: Column, categoryCol: Column,
      targetCents: Column, m: Int = 10): DataFrame = {
    require(m > 0, s"smoothing pseudo-count must be positive: $m")
    val rows = df.select(keyCol.as("key"), categoryCol.as("category"),
      targetCents.as("t"))
    val perCat = rows.groupBy(col("category"))
      .agg(sum(col("t")).as("cat_sum"), count(lit(1)).as("cat_cnt"))
    val global = rows.agg(
      call_function("div", sum(col("t")), count(lit(1))).as("global_mean"))
    // integer `div`, never `/`: Column division on longs is DOUBLE division,
    // and a truncated double is not floor division (Sampling.scala:216)
    rows
      .join(broadcast(perCat), Seq("category"))
      .crossJoin(broadcast(global))
      .select(col("key"), col("category"),
        when(col("cat_cnt") > 1,
          call_function("div", col("cat_sum") - col("t"), col("cat_cnt") - 1))
          .as("enc_loo"),
        call_function("div",
          col("cat_sum") + lit(m.toLong) * col("global_mean"),
          col("cat_cnt") + lit(m.toLong)).as("enc_smooth"))
  }

  /** Pairwise Pearson correlation matrix over cent-quantized numeric
    * columns, in ONE scan: all moment sums (S_x, S_xx, S_xy for every pair)
    * accumulate in a single partial-aggregated pass as DECIMAL(38,0) exact
    * integers, then each pair's correlation is one IEEE expression over
    * exact operands —
    * `corr = (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2))`
    * — so the doubles are bit-identical on any engine and any partitioning
    * (the builtin `corr` streams floating partials whose order varies with
    * the partitioning; this one cannot).
    *
    * At 100 TB this is the ideal profile shape: a narrow map + one
    * map-side-combined agg to a SINGLE row, then driver-side literal math.
    * DECIMAL(38,0) holds sum-of-squares for cent values up to ~1e9 over
    * ~1e18 rows — overflow raises (Spark decimal overflow -> null and the
    * null propagates to a visibly-null corr), never silently wraps.
    */
  def corrMatrix(df: DataFrame, colsCents: Seq[(String, Column)]): DataFrame = {
    require(colsCents.size >= 2, "need at least two columns to correlate")
    val named = colsCents.map { case (n, c) => n -> c.cast("long") }
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val sums =
      named.map { case (n, c) => sum(dec(c)).as(s"s_$n") } ++
        named.map { case (n, c) => sum(dec(c * c)).as(s"ss_$n") } ++
        named.combinations(2).toSeq.map { case Seq((nx, cx), (ny, cy)) =>
          sum(dec(cx * cy)).as(s"sp_${nx}_$ny")
        }
    val agg = df.agg(count(lit(1)).cast("decimal(38,0)").as("n"), sums: _*)
    val pairRows = named.combinations(2).toSeq.map { case Seq((nx, _), (ny, _)) =>
      val num = (col("n") * col(s"sp_${nx}_$ny") -
        col(s"s_$nx") * col(s"s_$ny")).cast("double")
      val dx = (col("n") * col(s"ss_$nx") - col(s"s_$nx") * col(s"s_$nx")).cast("double")
      val dy = (col("n") * col(s"ss_$ny") - col(s"s_$ny") * col(s"s_$ny")).cast("double")
      // a constant column has zero variance: correlation is undefined ->
      // NULL (ANSI division would raise on the 0 denominator; the 0/0 NaN
      // of non-ANSI engines is noise, not an answer)
      struct(lit(nx).as("x_col"), lit(ny).as("y_col"),
        col("n").cast("long").as("n_rows"),
        when(dx =!= 0.0 && dy =!= 0.0,
          num / (sqrt(dx) * sqrt(dy))).as("corr"))
    }
    agg.select(explode(array(pairRows: _*)).as("p")).select(col("p.*"))
  }

  /** Chi-square contingency table between two categorical columns — the
    * feature-association / independence audit (which candidate features are
    * redundant, which segmentation actually separates a target). One row
    * per observed (a, b) cell with the cell's exact contribution:
    *
    *  - `observed`       exact count
    *  - `expected_milli` `r*c*1000 div N` (independence expectation)
    *  - `term_milli`     `(o*N - r*c)^2 * 1000 div (N*r*c)` — the cell's
    *                     chi-square term; `sum(term_milli)` is the statistic
    *                     in exact milli-points
    *
    * All products ride DECIMAL(38,0) (`(o*N - r*c)^2` passes a BIGINT at
    * ~60k rows already) and divisions are integral, so every value is an
    * exact integer that hash-compares across engines — no libm, no float
    * summation order. NULL categories group as their own cell (dbt
    * accepted_values semantics: NULL is a real category in an audit).
    *
    * The cell table is DENSIFIED to the full distinct-a x distinct-b grid
    * before terms are computed: an UNOBSERVED combination still carries
    * `(0 - E)^2 / E = r*c/N`, and dropping those cells understates the
    * statistic exactly when the association is strongest (a perfectly
    * separated 2x2 loses HALF its chi-square — caught by the Mood's-test
    * spec vector, r10). Dense domains are unaffected.
    *
    * Scale shape: one partial-agg shuffle keyed on (a, b); the grid and
    * marginals are rollups OF THAT ROLLUP (bounded by category
    * cardinality, never row count) broadcast back onto the cells. Nothing
    * re-scans raw rows.
    */
  def chiSquareCells(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val sparse = df.groupBy(aCol.as("a"), bCol.as("b"))
      .agg(count(lit(1)).as("observed"))
      .pinLazy() // feeds the grid arms AND the marginals
    val obs = sparse.select(col("a")).distinct()
      .crossJoin(sparse.select(col("b")).distinct())
      // null-safe re-join: a NULL category is a real cell and must find
      // its own observed row, not a zero (same reason as the marginal
      // joins below)
      .join(sparse.select(col("a").as("__sa"), col("b").as("__sb"),
        col("observed")),
        col("a") <=> col("__sa") && col("b") <=> col("__sb"), "left")
      .select(col("a"), col("b"),
        coalesce(col("observed"), lit(0L)).as("observed"))
    val rowTot = obs.groupBy(col("a"))
      .agg(sum(col("observed")).as("r_tot"))
    val colTot = obs.groupBy(col("b"))
      .agg(sum(col("observed")).as("c_tot"))
    val grand = obs.agg(sum(col("observed")).as("n_tot"))
    val delta = dec(col("observed")) * dec(col("n_tot")) -
      dec(col("r_tot")) * dec(col("c_tot"))
    obs
      // null-safe joins: a NULL category is a real cell and must still
      // find its marginal row (a plain equi-join would silently drop it)
      .join(broadcast(rowTot.withColumnRenamed("a", "__ra")),
        col("a") <=> col("__ra"))
      .join(broadcast(colTot.withColumnRenamed("b", "__cb")),
        col("b") <=> col("__cb"))
      .crossJoin(broadcast(grand))
      .select(col("a"), col("b"), col("observed"),
        call_function("div", dec(col("r_tot")) * dec(col("c_tot")) * 1000,
          dec(col("n_tot"))).cast("long").as("expected_milli"),
        call_function("div", delta * delta * 1000,
          dec(col("n_tot")) * dec(col("r_tot")) * dec(col("c_tot")))
          .cast("long").as("term_milli"))
  }

  /** Rolling (trailing `windowDays`-day) Pearson correlation between two
    * daily series per group — "are these two metrics still moving
    * together" as a time-local signal, where [[corrMatrix]] answers it
    * globally. All six moment sums (n, Sx, Sy, Sxx, Syy, Sxy) accumulate
    * over ONE shared RANGE frame as exact integers; the correlation is a
    * single IEEE expression per output row, so values hash-compare.
    * Absent days are simply absent from the frame (RANGE semantics);
    * zero variance in the window -> NULL.
    *
    * Input is the already-rolled-up daily relation (group..., day, x, y).
    * Scale: windows partition on the group key and hold one row per DAY —
    * calendar-bounded partitions, one sort each.
    */
  def rollingCorr(daily: DataFrame, groupCols: Seq[String], dayCol: Column,
      xCol: Column, yCol: Column, windowDays: Int): DataFrame = {
    require(windowDays >= 2, s"windowDays: $windowDays")
    require(groupCols.nonEmpty, "rollingCorr needs at least one group column")
    val gcols = groupCols.map(col)
    val base = daily.select(gcols ++ Seq(dayCol.cast("long").as("day"),
      xCol.cast("long").as("x"), yCol.cast("long").as("y")): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gcols: _*).orderBy(col("day"))
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    val withSums = base
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    withSums.select(gcols ++ Seq(col("day"), col("x"), col("y"),
      col("n").as("n_days"),
      when(dx > 0 && dy > 0,
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt(dx.cast("double")) * sqrt(dy.cast("double")))).as("corr")): _*)
  }

  /** Per-group z-score standardization from exact sample moments: with
    * `den = n*SS - S^2` (n-1-scaled variance numerator),
    * `z = (v*n - S) / sqrt(n * den / (n-1))` — exact integer operands, one
    * division inside the sqrt plus the outer division, bit-stable
    * cross-engine (the builtin stddev streams float partials whose order
    * varies with partitioning). Constant groups (zero variance) and
    * singletons -> NULL. One group rollup broadcast back onto the rows.
    */
  def standardize(df: DataFrame, groupCols: Seq[String],
      valueCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "standardize needs at least one group column")
    val gcols = groupCols.map(col)
    val v = valueCol.cast("long")
    val stats = df.groupBy(gcols: _*).agg(count(lit(1)).as("__n"),
      sum(v).as("__s"), sum(v * v).as("__ss"))
    val den = col("__n") * col("__ss") - col("__s") * col("__s")
    df.join(broadcast(stats), groupCols)
      .withColumn("z",
        when(col("__n") > 1 && den > 0,
          (v * col("__n") - col("__s")).cast("double") /
            sqrt((col("__n") * den).cast("double") /
              (col("__n") - 1).cast("double"))))
      .drop("__n", "__s", "__ss")
  }

  /** One-row chi-square summary over [[chiSquareCells]]: the statistic in
    * exact milli-points (sum of cell terms), degrees of freedom, and
    * Cramér's V — `sqrt(chi2 / (N * min(r-1, c-1)))`, the [0,1]
    * effect-size rendering comparable across tables (chi2 itself grows
    * with N). V is the single IEEE step over exact integer operands.
    * Degenerate 1xK tables have no dof -> NULL V.
    */
  def chiSquareSummary(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = chiSquareCells(df, aCol, bCol)
    cells.agg(
      sum(col("observed")).as("n_rows"),
      ((countDistinct(col("a")) - 1) * (countDistinct(col("b")) - 1)).as("dof"),
      sum(col("term_milli")).as("chi2_milli"),
      (countDistinct(col("a")) - 1).as("__ra"),
      (countDistinct(col("b")) - 1).as("__cb"))
      .withColumn("cramers_v",
        when(least(col("__ra"), col("__cb")) > 0,
          sqrt(col("chi2_milli").cast("double") /
            (lit(1000.0) * col("n_rows").cast("double") *
              least(col("__ra"), col("__cb")).cast("double")))))
      .drop("__ra", "__cb")
  }

  /** Market-basket pair affinity: for every item pair co-occurring in at
    * least `minSupport` baskets, the exact-integer lift
    * `lift_milli = n_both * n_baskets * 1000 div (n_a * n_b)` — above
    * 1000 means the pair co-occurs more than independence predicts (the
    * cross-sell / bundle signal; the q221 collocation recipe lifted from
    * token windows to transaction baskets). Presence-based: duplicate
    * lines of one item in a basket count once.
    *
    * Scale shape: one basket-keyed distinct, a basket-keyed self-join
    * whose fan-out is quadratic in BASKET SIZE (bounded by
    * `maxBasketSize` — oversized baskets are dropped BEFORE the join, the
    * hot-block guard of the dedup family; a 10k-item basket would emit
    * 50M pairs), then a pair-keyed partial agg with the item marginals
    * broadcast back. Products ride DECIMAL(38,0).
    */
  def basketPairs(df: DataFrame, basketCol: Column, itemCol: Column,
      minSupport: Long, maxBasketSize: Int = 1000): DataFrame = {
    require(minSupport >= 1 && maxBasketSize >= 2,
      s"minSupport=$minSupport maxBasketSize=$maxBasketSize")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val (kept, marginals) = presencePairsBase(df, basketCol, itemCol,
      maxBasketSize)
    val nBaskets = kept.agg(countDistinct(col("basket")).as("n_baskets"))
    coPairs(kept, marginals, minSupport)
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_both"), col("n_a"),
        col("n_b"),
        call_function("div", dec(col("n_both")) * dec(col("n_baskets")) * 1000,
          dec(col("n_a")) * dec(col("n_b"))).cast("long").as("lift_milli"))
  }

  /** Directed association rules over presence baskets: both orientations
    * of every [[basketPairs]] pair with the full rule readout — support,
    * confidence (`P(consequent | antecedent)`), lift, and conviction
    * (`(1 - supp_c) / (1 - conf)` — "how much more often would the rule
    * have to be wrong under independence"; a rule that never misses has
    * undefined conviction -> NULL). All four are single non-negative
    * truncating divisions over exact DECIMAL products, so the whole rule
    * table hash-compares. Same scale shape as [[basketPairs]] (the
    * canonical-pair rollup is computed once; directions are two
    * projections of it, not a second self-join).
    */
  def associationRules(df: DataFrame, basketCol: Column, itemCol: Column,
      minSupport: Long, maxBasketSize: Int = 1000): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val (kept, marginals) = presencePairsBase(df, basketCol, itemCol,
      maxBasketSize)
    val nBaskets = kept.agg(countDistinct(col("basket")).as("n_baskets"))
    val pairs = coPairs(kept, marginals, minSupport)
    val directed = pairs
      .select(col("item_a").as("antecedent"), col("item_b").as("consequent"),
        col("n_both"), col("n_a").as("n_ant"), col("n_b").as("n_con"))
      .unionByName(pairs
        .select(col("item_b").as("antecedent"), col("item_a").as("consequent"),
          col("n_both"), col("n_b").as("n_ant"), col("n_a").as("n_con")))
    directed.crossJoin(broadcast(nBaskets))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        col("n_ant"), col("n_con"),
        call_function("div", dec(col("n_both")) * 1000000L,
          dec(col("n_baskets"))).cast("long").as("support_ppm"),
        call_function("div", dec(col("n_both")) * 1000000L,
          dec(col("n_ant"))).cast("long").as("confidence_ppm"),
        call_function("div",
          dec(col("n_both")) * dec(col("n_baskets")) * 1000L,
          dec(col("n_ant")) * dec(col("n_con"))).cast("long").as("lift_milli"),
        when(col("n_ant") > col("n_both"),
          call_function("div",
            dec(col("n_baskets") - col("n_con")) * dec(col("n_ant")) * 1000L,
            dec(col("n_baskets")) * dec(col("n_ant") - col("n_both")))
            .cast("long")).as("conviction_milli"))
  }

  /** Interrupted-time-series (segmented) regression: one OLS fit per side
    * of a declared intervention day, with the slope change and the level
    * shift AT the break — the before/after causal readout when there is
    * no control series (the q291 DiD sibling). Moments accumulate in
    * DECIMAL(38,0) (cent-scale daily revenue overflows 64-bit
    * `n*Sxy`/`Sy*Sxx` products at warehouse volumes — the reason this
    * does not reuse [[olsTrend]]'s long moments); each slope/intercept is
    * ONE IEEE division over exact operands, and the level shift is the
    * fixed chain `(i_post + s_post*T) - (i_pre + s_pre*T)` an oracle
    * mirrors verbatim. One row; a side with < 2 points or zero x-variance
    * emits NULL fits.
    */
  def itsRegression(df: DataFrame, dayCol: Column, yCol: Column,
      breakDay: Long): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val x = dayCol.cast("long")
    val y = yCol.cast("long")
    val sides = df.filter(x.isNotNull && y.isNotNull)
      .groupBy((x >= breakDay).as("__post"))
      .agg(count(lit(1)).as("n"),
        sum(dec(x)).as("sx"), sum(dec(y)).as("sy"),
        sum(dec(x) * x).as("sxx"), sum(dec(x) * y).as("sxy"))
    def fit(post: Boolean, tag: String) = {
      val den = dec(col("n")) * col("sxx") - col("sx") * col("sx")
      sides.filter(col("__post") === post)
        .select(col("n").as(s"n_$tag"),
          when(den =!= 0,
            (dec(col("n")) * col("sxy") - col("sx") * col("sy"))
              .cast("double") / den.cast("double")).as(s"slope_$tag"),
          when(den =!= 0,
            (col("sy") * col("sxx") - col("sx") * col("sxy"))
              .cast("double") / den.cast("double")).as(s"intercept_$tag"))
    }
    val t = lit(breakDay.toDouble)
    fit(post = false, "pre").crossJoin(fit(post = true, "post"))
      .withColumn("slope_change", col("slope_post") - col("slope_pre"))
      .withColumn("level_shift",
        (col("intercept_post") + col("slope_post") * t) -
          (col("intercept_pre") + col("slope_pre") * t))
  }

  /** Shared presence-basket base: distinct (basket, item) with oversized
    * baskets dropped (the hot-block guard), plus item marginals.
    */
  private def presencePairsBase(df: DataFrame, basketCol: Column,
      itemCol: Column, maxBasketSize: Int): (DataFrame, DataFrame) = {
    val items = df.select(basketCol.as("basket"), itemCol.as("item"))
      .filter(col("basket").isNotNull && col("item").isNotNull)
      .distinct()
    val sized = items.groupBy(col("basket"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBasketSize)
      .select(col("basket"))
    // pin: kept feeds the marginals, both self-join arms, and (in
    // basketPairs) the basket count — unpinned, the distinct + size-guard
    // join recomputes per branch (the q217/q221 recompute lesson)
    val kept = items.join(sized, Seq("basket")).pinLazy()
    val marginals = kept.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    (kept, marginals)
  }

  /** Canonical (item_a < item_b) co-occurrence pairs with both marginals
    * attached — the shared core of [[basketPairs]] and [[itemNeighbors]].
    */
  private def coPairs(kept: DataFrame, marginals: DataFrame,
      minSupport: Long): DataFrame = {
    val a = kept.select(col("basket"), col("item").as("item_a"))
    val b = kept.select(col("basket"), col("item").as("item_b"))
    a.join(b, Seq("basket"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minSupport)
      .join(broadcast(marginals.select(col("item").as("item_a"),
        col("n_item").as("n_a"))), Seq("item_a"))
      .join(broadcast(marginals.select(col("item").as("item_b"),
        col("n_item").as("n_b"))), Seq("item_b"))
  }

  /** Item-item neighborhood collaborative filtering (Sarwar et al.,
    * "Item-based collaborative filtering recommendation algorithms", WWW
    * 2001): for every item, its top-k most similar items by co-occurrence
    * cosine `n_both / sqrt(n_a * n_b)` over presence baskets — the
    * "customers who bought X also bought" neighbor table that a recommender
    * serves directly, and the similarity complement of [[basketPairs]]'
    * lift (lift finds SURPRISING pairs, cosine finds RELIABLE ones: a pair
    * of two blockbusters can have high cosine at lift ~1).
    *
    * Exact-integer counts with exactly two IEEE steps (one multiply-sqrt,
    * one divide — bit-identical on any engine); ties rank by (cosine DESC,
    * neighbor ASC), total order. The top-k window partitions on item over
    * the SUPPORT-FILTERED pair list (bounded by min-support and the basket
    * guard, never all-pairs), and Spark's WindowGroupLimit prunes to k per
    * partition before the final sort. Same scale shape as basketPairs:
    * basket-keyed self-join with the `maxBasketSize` hot-basket guard,
    * pair-keyed partial agg, broadcast marginals.
    */
  def itemNeighbors(df: DataFrame, basketCol: Column, itemCol: Column,
      k: Int, minSupport: Long, maxBasketSize: Int = 1000): DataFrame = {
    require(k >= 1 && minSupport >= 1 && maxBasketSize >= 2,
      s"k=$k minSupport=$minSupport maxBasketSize=$maxBasketSize")
    val (kept, marginals) = presencePairsBase(df, basketCol, itemCol,
      maxBasketSize)
    val pairs = coPairs(kept, marginals, minSupport)
    // symmetrize: each canonical pair serves both items' neighbor lists
    val sym = pairs.select(col("item_a").as("item"),
        col("item_b").as("neighbor"), col("n_both"),
        col("n_a").as("n_item"), col("n_b").as("n_neighbor"))
      .unionAll(pairs.select(col("item_b").as("item"),
        col("item_a").as("neighbor"), col("n_both"),
        col("n_b").as("n_item"), col("n_a").as("n_neighbor")))
      .withColumn("cosine", col("n_both").cast("double") /
        sqrt(col("n_item").cast("double") * col("n_neighbor")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item"))
      .orderBy(col("cosine").desc, col("neighbor").asc)
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("item"), col("neighbor"), col("n_both"), col("cosine"),
        col("rank"))
  }

  /** Price-volume-mix revenue decomposition between two periods (the
    * FP&A variance bridge): per segment, split the revenue change into a
    * VOLUME effect (quantity change at the OLD average price) and a PRICE
    * effect (realized-price change on the NEW quantity), with the single
    * truncation point `base = q1*r0 div q0` shared by both terms so
    * `price + volume = r1 - r0` EXACTLY per segment — the reconciliation
    * auditors actually check, by construction rather than by rounding
    * luck:
    * {{{
    *   volume = q1*r0 div q0 - r0      price = r1 - q1*r0 div q0
    * }}}
    * New segments (q0 = 0) book everything as volume, exited ones
    * (q1 = 0) as negative volume — declared edge routing, reconciliation
    * still exact. The output carries one TOTAL row (segment NULL) whose
    * volume uses the AGGREGATE price and whose `mix_units` closes the
    * bridge: `mix = delta_total - price_total - volume_total`, i.e. the
    * part of the change explained by segment-share shifts rather than
    * any segment's own price or volume (Hulten-style share decomposition;
    * per-segment rows carry NULL mix).
    *
    * Exact-integer throughout: quantities and revenue units are longs,
    * products ride DECIMAL(38,0), every division is non-negative
    * truncating with subtractions AFTER. Shape: one segment-keyed partial
    * agg + a 1-row total — nothing grows past the segment count.
    */
  def priceVolumeMix(df: DataFrame, segCols: Seq[String], isCurrent: Column,
      qtyCol: Column, revenueUnits: Column): DataFrame = {
    require(segCols.nonEmpty, "priceVolumeMix needs segment columns")
    val gcols = segCols.map(col)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    def effects(f: DataFrame): DataFrame = f
      .withColumn("__base",
        when(col("q0") > 0L,
          call_function("div", dec(col("q1")) * col("r0_units"),
            dec(col("q0"))).cast("long"))
          .otherwise(col("r1_units"))) // new segment: all change is volume
      .withColumn("volume_units", col("__base") - col("r0_units"))
      .withColumn("price_units", col("r1_units") - col("__base"))
      .drop("__base")
    val seg = effects(df.groupBy(gcols: _*).agg(
      sum(when(!isCurrent, qtyCol.cast("long")).otherwise(0L)).as("q0"),
      sum(when(isCurrent, qtyCol.cast("long")).otherwise(0L)).as("q1"),
      sum(when(!isCurrent, revenueUnits.cast("long")).otherwise(0L))
        .as("r0_units"),
      sum(when(isCurrent, revenueUnits.cast("long")).otherwise(0L))
        .as("r1_units")))
    val tot = effects(seg.agg(
      sum(col("q0")).as("q0"), sum(col("q1")).as("q1"),
      sum(col("r0_units")).as("r0_units"), sum(col("r1_units")).as("r1_units")))
    val segPrice = seg.agg(sum(col("price_units")).as("__p"),
      sum(col("volume_units")).as("__v"))
    val totalRow = tot.crossJoin(segPrice)
      .select(segCols.map(c =>
        lit(null).cast(seg.schema(c).dataType).as(c)) ++ Seq(
        col("q0"), col("q1"), col("r0_units"), col("r1_units"),
        col("volume_units"), col("__p").as("price_units"),
        (col("r1_units") - col("r0_units") - col("volume_units") - col("__p"))
          .as("mix_units")): _*)
    seg.withColumn("mix_units", lit(null).cast("long"))
      .select(totalRow.columns.map(col): _*)
      .unionByName(totalRow)
  }

  /** Pooled two-proportion z statistic from exact integer counts — the
    * A/B experiment readout. Algebraically
    * `z = (c1/n1 - c2/n2) / sqrt(p(1-p)(1/n1 + 1/n2))` with pooled
    * `p = (c1+c2)/(n1+n2)`; rearranged over exact operands to
    * `z = (c1*n2 - c2*n1) / sqrt(C*(N-C)*n1*n2 / N)` so the only IEEE
    * steps are one division inside the sqrt, the sqrt, and the outer
    * division — identical on any engine. Degenerate inputs (either arm
    * empty, conversion rate 0 or 1 pooled) have no sampling variance ->
    * NULL. Products ride DECIMAL(38,0): C*(N-C)*n1*n2 overflows a long
    * past ~55k users per arm.
    */
  def twoProportionZ(n1: Column, c1: Column, n2: Column, c2: Column): Column = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val bigC = dec(c1) + dec(c2)
    val bigN = dec(n1) + dec(n2)
    val inner = (bigC * (bigN - bigC) * dec(n1) * dec(n2)).cast("double") /
      bigN.cast("double")
    when(n1 > 0 && n2 > 0 && bigC > 0 && bigC < bigN,
      (dec(c1) * dec(n2) - dec(c2) * dec(n1)).cast("double") / sqrt(inner))
  }

  /** Per-group ordinary-least-squares trend line over an integer (x, y)
    * series — e.g. daily event counts by type. Closed form from exact
    * BIGINT moment sums, each coefficient ONE IEEE division of two exact
    * integers (`slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)`, intercept via
    * the Cramer form `(Sy*Sxx - Sx*Sxy) / (n*Sxx - Sx^2)`), so the doubles
    * hash-compare. A group with a single distinct x has no slope -> NULL
    * (zero denominator), the honest answer.
    *
    * One partial-agg shuffle keyed on the group; everything after is
    * per-group literal math on a rollup bounded by group cardinality.
    */
  def olsTrend(df: DataFrame, groupCols: Seq[String], xCol: Column,
      yCol: Column): DataFrame = {
    val g = groupCols.map(col)
    val x = xCol.cast("long")
    val y = yCol.cast("long")
    val agg = df.groupBy(g: _*).agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(x * y).as("sxy"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    agg.select(g ++ Seq(
      col("n").as("n_points"),
      when(den =!= 0,
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          den.cast("double")).as("slope"),
      when(den =!= 0,
        (col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
          den.cast("double")).as("intercept")): _*)
  }

  /** Feature hashing (the hashing trick, Weinberger et al. 2009,
    * arXiv:0902.2206): map arbitrary categorical (column, value) pairs
    * into a FIXED `dim`-sized index space with a sign hash, so downstream
    * models take a bounded dense vector regardless of category
    * cardinality — the standard way to featurize high-cardinality
    * categoricals without a fitted vocabulary (nothing to broadcast,
    * nothing to drift). Hash = the first 8 md5 hex digits of
    * `"col:value"` (32-bit, engine-portable — the minhash discipline),
    * index = hash mod dim, sign = parity of the 9th hex digit; colliding
    * features SUM, signs making collisions cancel in expectation (the
    * paper's unbiasedness device). Long format (id, feature_idx, value) —
    * the sparse form a trainer consumes; zero entries are absent.
    *
    * Shape: one explode over the declared column list (bounded fanout),
    * one (id, idx) rollup. NULL values contribute nothing.
    */
  def featureHash(df: DataFrame, idCol: Column, cols: Seq[String],
      dim: Int): DataFrame = {
    require(cols.nonEmpty, "featureHash needs feature columns")
    require(dim >= 2 && dim <= (1 << 20), s"dim: $dim")
    val toks = cols.map(c =>
      when(col(c).isNotNull, concat(lit(c), lit(":"), col(c).cast("string"))))
    val h = conv(substring(md5(col("__tok")), 1, 8), 16, 10).cast("long")
    val sign = when(
      conv(substring(md5(col("__tok")), 9, 1), 16, 10).cast("long") % 2L === 0L,
      lit(1L)).otherwise(lit(-1L))
    df.select(idCol.as("id"), explode(array(toks: _*)).as("__tok"))
      .filter(col("__tok").isNotNull)
      .groupBy(col("id"), pmod(h, lit(dim.toLong)).as("feature_idx"))
      .agg(sum(sign).as("value"))
  }

  /** Classic price-index triple between two periods over a matched item
    * basket: Laspeyres (base-period quantities — "what would the OLD
    * basket cost now"), Paasche (current quantities), and Fisher (their
    * geometric mean — the superlative index both national accounts and
    * CPI methodology prefer). Per item the unit price is
    * `sum(cents) div sum(qty)` per period (declared truncation); the
    * index numerator/denominator products accumulate in DECIMAL and each
    * index is ONE ppm division; Fisher's square root is the single IEEE
    * step (correctly rounded — engine-identical on the exact integer
    * inputs). Items traded in only one period drop (matched-basket
    * convention — the index prices the SAME goods).
    *
    * Shape: one item rollup carrying both periods as conditional sums, a
    * 1-row agg. Nothing scales past the item rollup.
    */
  def priceIndexes(df: DataFrame, inPeriod1: Column, itemCol: Column,
      qtyCol: Column, centsCol: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val items = df.groupBy(itemCol.as("__i"))
      .agg(sum(when(!inPeriod1, qtyCol.cast("long")).otherwise(0L)).as("q0"),
        sum(when(!inPeriod1, centsCol.cast("long")).otherwise(0L)).as("c0"),
        sum(when(inPeriod1, qtyCol.cast("long")).otherwise(0L)).as("q1"),
        sum(when(inPeriod1, centsCol.cast("long")).otherwise(0L)).as("c1"))
      .filter(col("q0") > 0L && col("q1") > 0L)
      .withColumn("p0", call_function("div", col("c0"), col("q0")))
      .withColumn("p1", call_function("div", col("c1"), col("q1")))
    items.agg(
        count(lit(1)).as("n_items"),
        sum(dec(col("p1")) * dec(col("q0"))).as("__l_num"),
        sum(dec(col("p0")) * dec(col("q0"))).as("__l_den"),
        sum(dec(col("p1")) * dec(col("q1"))).as("__p_num"),
        sum(dec(col("p0")) * dec(col("q1"))).as("__p_den"))
      .select(col("n_items"),
        when(col("__l_den") > 0,
          call_function("div", col("__l_num") * dec(lit(1000000L)),
            col("__l_den")).cast("long")).as("laspeyres_ppm"),
        when(col("__p_den") > 0,
          call_function("div", col("__p_num") * dec(lit(1000000L)),
            col("__p_den")).cast("long")).as("paasche_ppm"))
      .withColumn("fisher_ppm",
        sqrt(col("laspeyres_ppm").cast("double") *
          col("paasche_ppm").cast("double")))
  }

  /** Daily revenue recognition: spread each contract's cents EVENLY over
    * its closed service interval, exactly — `base = cents div span` per
    * day plus one extra cent on the first `cents mod span` days (the
    * largest-remainder discipline, so per-contract recognized total ==
    * contract cents TO THE CENT, and the daily schedule is deterministic
    * on any engine). The accrual-accounting primitive a warehouse
    * rev-rec close runs; also the exact form of "allocate a campaign
    * budget across flight days".
    *
    * Rows with NULL/inverted intervals or spans beyond `maxSpanDays` are
    * EXCLUDED by contract (the [[graft.operators.Intervals]] convention)
    * — `maxSpanDays` bounds the per-row explode fanout, which is the
    * honest cost (output is contract-days, the thing being computed).
    * One fanout + one (key, day) rollup.
    */
  def revenueRecognition(df: DataFrame, keys: Seq[String], startDay: Column,
      endDay: Column, centsCol: Column, maxSpanDays: Int = 3660): DataFrame = {
    require(keys.nonEmpty, "revenueRecognition needs keys")
    require(maxSpanDays >= 1, s"maxSpanDays: $maxSpanDays")
    val kcols = keys.map(col)
    val base = df
      .select(kcols :+ startDay.cast("long").as("__s") :+
        endDay.cast("long").as("__e") :+ centsCol.cast("long").as("__c"): _*)
      .filter(col("__s").isNotNull && col("__e").isNotNull &&
        col("__c").isNotNull && col("__c") >= 0L &&
        col("__e") >= col("__s") &&
        col("__e") - col("__s") < maxSpanDays.toLong)
      .withColumn("__span", col("__e") - col("__s") + 1L)
      .withColumn("__base", call_function("div", col("__c"), col("__span")))
      .withColumn("__rem", col("__c") - col("__base") * col("__span"))
    // Optimization r15 (guide §2.3 "aggregate before you shuffle"): the
    // direct form explodes every contract to its span in days (~75 rows per
    // contract here) and shuffles that whole fan-out to the (key, day)
    // rollup. The schedule is piecewise constant per contract — `base`
    // cents on [s, e] plus one extra cent on [s, s+rem) — so it reduces to
    // DIFFERENCE ARRAYS: at most 4 delta rows per contract
    // (+base/+1 contract at s, -base/-1 contract at e+1, +1 cent at s,
    // -1 cent at s+rem), pre-aggregated to (key, day) BEFORE any
    // per-day structure exists, then one prefix-sum window over the
    // calendar-bounded day spine per key. Output rows are exactly the days
    // covered by >= 1 contract (n > 0 filter), with identical n_contracts /
    // recognized_cents — the explode produced the same sums day by day.
    // Shuffle volume drops from contract-days to min(4x contracts,
    // keys x days); the window is keys x calendar-bounded.
    // Before/after numbers: OPTIMIZATION_r15.md.
    val deltas = base
      .select(kcols :+ col("__s") :+ col("__e") :+ col("__base") :+
        col("__rem") :+ explode(array(
          struct(col("__s").as("day"), lit(1L).as("__dn"),
            col("__base").as("__da")),
          struct((col("__e") + 1L).as("day"), lit(-1L).as("__dn"),
            (-col("__base")).as("__da")),
          struct(col("__s").as("day"), lit(0L).as("__dn"),
            when(col("__rem") > 0L, 1L).otherwise(0L).as("__da")),
          struct((col("__s") + col("__rem")).as("day"), lit(0L).as("__dn"),
            when(col("__rem") > 0L, -1L).otherwise(0L).as("__da"))))
          .as("__d"): _*)
      .groupBy(kcols :+ col("__d.day").as("day"): _*)
      .agg(sum(col("__d.__dn")).as("__dn"), sum(col("__d.__da")).as("__da"))
    // day spine per key: the covered calendar range; delta days outside it
    // cannot exist (s >= min s, e + 1 <= max e + 1 — the spine includes
    // max e + 1 only through deltas, which the n > 0 filter drops)
    val spine = base
      .groupBy(kcols: _*)
      .agg(min(col("__s")).as("__d0"), max(col("__e")).as("__d1"))
      .select(kcols :+ explode(sequence(col("__d0"), col("__d1"))).as("day"): _*)
    val wDay = Window.partitionBy(kcols: _*).orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(deltas, keys :+ "day", "left")
      .withColumn("n_contracts", sum(coalesce(col("__dn"), lit(0L))).over(wDay))
      .withColumn("recognized_cents",
        sum(coalesce(col("__da"), lit(0L))).over(wDay))
      .filter(col("n_contracts") > 0L)
      .select(kcols :+ col("day") :+ col("n_contracts") :+
        col("recognized_cents"): _*)
  }

  /** Herfindahl-Hirschman concentration of a value distribution per group
    * (the antitrust/market-concentration index, equally the "is this
    * segment's revenue one whale?" readout): `HHI = sum over holders of
    * (share_i)^2`, here as ONE exact division
    * `sum(v_i^2) * 1e6 div (sum(v_i))^2` through DECIMAL(38,0) — no
    * per-holder share division, so no truncation accumulates. Also emits
    * the effective holder count `1e9 div hhi_ppm` in milli (the
    * "equivalent number of equal holders" inverse). HHI_ppm spans
    * (0, 1e6]: 1e6 is a monopoly, 1e6/n is n equal holders.
    *
    * Shape: one (group, holder) rollup, one group rollup. Values are
    * non-negative longs by contract (fixed-point cents).
    */
  def hhiConcentration(df: DataFrame, groupCols: Seq[String],
      holderCol: Column, valueCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "hhiConcentration needs group columns")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val g = groupCols.map(col)
    df.groupBy(g :+ holderCol.as("__h"): _*)
      .agg(sum(valueCol.cast("long")).as("__v"))
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_holders"),
        sum(col("__v")).as("total"),
        sum(dec(col("__v")) * dec(col("__v"))).as("__ss"))
      .select(g ++ Seq(col("n_holders"), col("total"),
        when(col("total") > 0L,
          call_function("div", col("__ss") * dec(lit(1000000L)),
            dec(col("total")) * dec(col("total"))).cast("long"))
          .as("hhi_ppm")): _*)
      .withColumn("eff_n_milli",
        when(col("hhi_ppm") > 0L,
          call_function("div", lit(1000000000L), col("hhi_ppm"))))
  }

  /** FIFO allocation: match each demand row to supply layers in arrival
    * order — the inventory-costing / lot-matching primitive that is
    * notoriously procedural in SQL, expressed as the classic CUMULATIVE-
    * INTERVAL intersection: with per-key running totals, supply row i
    * covers quantity interval `(s_lo, s_hi]` and demand row j covers
    * `(d_lo, d_hi]`; FIFO assigns their overlap
    * `least(s_hi, d_hi) - greatest(s_lo, d_lo)` — a pure equi-join on the
    * key plus a range predicate, no loops, no recursion.
    *
    * `supplyOrd` / `demandOrd` must be UNIQUE per key (the deterministic-
    * order contract every windowed op here carries); quantities are
    * positive longs. `cost_cents = matched_qty * unit_cents` prices each
    * matched slice at its supply layer.
    *
    * Scale shape: two per-key cumulative windows (partitioned — fully
    * parallel), one equi-join on the key with the range filter; output is
    * O(supply rows + demand rows) per key (each match boundary advances
    * one side), never the cross product.
    */
  def fifoAllocate(supply: DataFrame, demand: DataFrame, keyCol: String,
      supplyOrd: Column, supplyQty: Column, supplyUnitCents: Column,
      demandOrd: Column, demandQty: Column): DataFrame = {
    val ws = Window.partitionBy(col("k")).orderBy(col("s_ord"))
    val wd = Window.partitionBy(col("k")).orderBy(col("d_ord"))
    val s = supply
      .select(col(keyCol).as("k"), supplyOrd.cast("long").as("s_ord"),
        supplyQty.cast("long").as("s_qty"),
        supplyUnitCents.cast("long").as("unit_cents"))
      .filter(col("s_qty") > 0L)
      .withColumn("s_hi", sum(col("s_qty")).over(ws))
      .withColumn("s_lo", col("s_hi") - col("s_qty"))
    val dm = demand
      .select(col(keyCol).as("k"), demandOrd.cast("long").as("d_ord"),
        demandQty.cast("long").as("d_qty"))
      .filter(col("d_qty") > 0L)
      .withColumn("d_hi", sum(col("d_qty")).over(wd))
      .withColumn("d_lo", col("d_hi") - col("d_qty"))
    s.join(dm, Seq("k"))
      .filter(col("s_lo") < col("d_hi") && col("d_lo") < col("s_hi"))
      .select(col("k"), col("d_ord"), col("s_ord"),
        (least(col("s_hi"), col("d_hi")) -
          greatest(col("s_lo"), col("d_lo"))).as("matched_qty"),
        col("unit_cents"))
      .withColumn("cost_cents", col("matched_qty") * col("unit_cents"))
  }

  /** Net-revenue-retention bridge: per month, decompose this month's
    * revenue from LAST month's customers into retained / expansion /
    * contraction / churned, plus new-customer revenue — the SaaS
    * revenue-accounting statement (the q343 growth-accounting op's
    * revenue-weighted sibling in exact cents). `monthCol` is a month index
    * (e.g. `year*12 + month`); adjacency is strict (`m-1 -> m`): a
    * customer dark in m-1 counts as new in m even if active in m-2,
    * the standard monthly-bridge convention.
    *
    * `nrr_ppm = (starting + expansion - contraction - churned) * 1e6 div
    * starting` (= retained-cohort revenue over its prior-month base) and
    * `grr_ppm` excludes expansion (capped at the base by construction).
    * Both divisions are non-negative truncations. Months with no prior
    * base emit NULL ppms.
    *
    * Shape: one (customer, month) rollup, a self-join shifted by one
    * month (equi on customer+month — co-partitioned), one month rollup.
    */
  def nrrBridge(df: DataFrame, monthCol: Column, custCol: Column,
      centsCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rev = df
      .filter(monthCol.isNotNull && custCol.isNotNull && centsCol.isNotNull)
      .groupBy(monthCol.cast("long").as("m"), custCol.as("cust"))
      .agg(sum(centsCol.cast("long")).as("rev"))
    val prev = rev.select((col("m") + 1L).as("m"), col("cust"),
      col("rev").as("prev_rev"))
    val joined = rev.join(prev, Seq("m", "cust"), "full")
    val agg = joined.groupBy(col("m")).agg(
      sum(coalesce(col("prev_rev"), lit(0L))).as("starting"),
      sum(when(col("rev").isNotNull && col("prev_rev").isNotNull &&
        col("rev") > col("prev_rev"), col("rev") - col("prev_rev"))
        .otherwise(0L)).as("expansion"),
      sum(when(col("rev").isNotNull && col("prev_rev").isNotNull &&
        col("rev") < col("prev_rev"), col("prev_rev") - col("rev"))
        .otherwise(0L)).as("contraction"),
      sum(when(col("rev").isNull, col("prev_rev")).otherwise(0L))
        .as("churned"),
      sum(when(col("prev_rev").isNull, col("rev")).otherwise(0L))
        .as("new_rev"))
    agg
      .withColumn("nrr_ppm",
        when(col("starting") > 0L,
          call_function("div",
            dec(col("starting") + col("expansion") - col("contraction") -
              col("churned")) * 1000000L,
            dec(col("starting"))).cast("long")))
      .withColumn("grr_ppm",
        when(col("starting") > 0L,
          call_function("div",
            dec(col("starting") - col("contraction") - col("churned")) *
              1000000L,
            dec(col("starting"))).cast("long")))
  }

  /** Decision-stump feature screen by exact Gini impurity decrease — the
    * model-free "is this feature worth anything for this label" ranking a
    * feature store runs before training: over every candidate threshold v
    * (left = `feature <= v`), the weighted binary-Gini of the split,
    * minimized. All rationals cleared to one truncating ppm division per
    * quantity with a SHARED denominator construction:
    * `child_ppm = 2e6 * (posL*negL*nR + posR*negR*nL) div (nL*nR*N)` and
    * `parent_ppm = 2e6 * P*(N-P) div (N*N)` — exact DECIMAL products, so
    * both engines pick the same argmin. Ties on impurity break to the
    * SMALLEST threshold via a two-stage rollup (min impurity, then min v
    * at it — deterministic where arg_min on ties is not).
    *
    * Scale shape: one (value) rollup shuffle with per-value label counts,
    * a cumulative window over DISTINCT values (single-partition by
    * design — a split search is a global prefix structure — guarded by
    * `maxDistinct`, the valueRanks contract: bin continuous features
    * first), then two 1-row aggregates. Output: one row — n, n_pos,
    * parent_ppm, best_threshold (largest left-inclusive value), child
    * impurity there, and the decrease (parent - child; truncation can
    * make a no-signal decrease read slightly negative — consistent
    * cross-engine, and any real signal dwarfs the ulp).
    */
  def giniSplitScreen(df: DataFrame, featureCol: Column, labelCol: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    require(maxDistinct >= 1, s"maxDistinct: $maxDistinct")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val counts = df.filter(featureCol.isNotNull && labelCol.isNotNull)
      .groupBy(featureCol.cast("long").as("v"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(labelCol, 1L).otherwise(0L)).as("pos"))
    val w = Window.orderBy(col("v").asc)
    val guard = when(row_number().over(w) > maxDistinct,
      raise_error(lit(s"giniSplitScreen exceeded $maxDistinct distinct " +
        "feature values - the split-search window is single-partition; " +
        "bin the feature to fixed-point first")).cast("long"))
      .otherwise(lit(0L))
    val cum = counts
      .withColumn("nl", sum(col("cnt")).over(w) + guard)
      .withColumn("pl", sum(col("pos")).over(w))
      // pin: the distinct-value rollup feeds tot, cand, best, and bestV —
      // unpinned, each consumer replays the raw scan (4 scans per feature
      // at 100 TB); the pinned frame is value-domain-bounded, so the
      // checkpoint is free (the q217/q221 shared-subtree discipline)
      .pinLazy()
    val tot = cum.agg(max(col("nl")).as("n"), max(col("pl")).as("n_pos"))
    // candidate splits: every distinct value except the last (an empty
    // right side is not a split). The divisor is nullif-guarded even
    // though the filter excludes nl = n: Catalyst may reorder a Project
    // below a Filter (evaluation order across operators is NOT
    // guaranteed), so under ANSI the division must be safe on every
    // pre-filter row — the filter then drops the NULL row anyway
    val cand = cum.crossJoin(broadcast(tot))
      .filter(col("nl") < col("n"))
      .withColumn("child_ppm",
        call_function("div",
          dec(lit(2000000L)) *
            (dec(col("pl")) * (col("nl") - col("pl")) * (col("n") - col("nl")) +
             dec(col("n_pos") - col("pl")) *
               ((col("n") - col("nl")) - (col("n_pos") - col("pl"))) *
               col("nl")),
          nullif(dec(col("nl")) * (col("n") - col("nl")) * col("n"),
            dec(lit(0)))).cast("long"))
    val best = cand.agg(min(col("child_ppm")).as("best_child_ppm"))
    val bestV = cand.crossJoin(broadcast(best))
      .filter(col("child_ppm") === col("best_child_ppm"))
      .groupBy(col("best_child_ppm"))
      .agg(min(col("v")).as("best_threshold"))
    tot.crossJoin(broadcast(bestV))
      .withColumn("parent_ppm",
        call_function("div",
          dec(lit(2000000L)) * col("n_pos") * (col("n") - col("n_pos")),
          dec(col("n")) * col("n")).cast("long"))
      .select(col("n"), col("n_pos"), col("parent_ppm"),
        col("best_threshold"), col("best_child_ppm"),
        (col("parent_ppm") - col("best_child_ppm")).as("decrease_ppm"))
  }

  /** Arc (midpoint) price elasticity of demand per group between two
    * periods: `e = [(q2-q1)/((q1+q2)/2)] / [(p2-p1)/((p1+p2)/2)]
    * = (q2-q1)(p1+p2) / ((q1+q2)(p2-p1))` — the midpoint form is
    * symmetric in direction and, unlike the log-log regression
    * elasticity, entirely RATIONAL: with integer quantities and
    * milli-cent unit prices it is one sign-wrapped truncating milli
    * division (Spark `div` truncates toward zero, DuckDB `//` floors —
    * sign-magnitude keeps them identical, the q274 rule). Unit price
    * per period = `sum_cents * 1000 div sum_qty` (non-negative).
    * NULL elasticity when the price did not move or either period has
    * no quantity (undefined, not a division error).
    *
    * Shape: one (group, period) rollup, a self-join pivot on the group
    * keys — trivially 100 TB-shaped.
    */
  def arcElasticity(df: DataFrame, groupCols: Seq[String], inP2: Column,
      qtyCol: Column, centsCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "arcElasticity needs groupCols")
    val gcols = groupCols.map(col)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val per = df.filter(qtyCol.isNotNull && centsCol.isNotNull)
      .groupBy(gcols :+ when(inP2, 2L).otherwise(1L).as("__per"): _*)
      .agg(sum(qtyCol.cast("long")).as("q"), sum(centsCol.cast("long")).as("c"))
      .filter(col("q") > 0L)
      .withColumn("p_milli", call_function("div", col("c") * 1000L, col("q")))
      // pin: the (group, period) rollup feeds BOTH pivot sides — group-
      // domain-bounded, so the checkpoint is free
      .pinLazy()
    val p1 = per.filter(col("__per") === 1L)
      .select(gcols ++ Seq(col("q").as("q1"), col("p_milli").as("p1_milli")): _*)
    val p2 = per.filter(col("__per") === 2L)
      .select(gcols ++ Seq(col("q").as("q2"), col("p_milli").as("p2_milli")): _*)
    val num = dec(col("q2") - col("q1")) * (col("p1_milli") + col("p2_milli"))
    val den = dec(col("q1") + col("q2")) * (col("p2_milli") - col("p1_milli"))
    p1.join(p2, groupCols)
      .withColumn("elasticity_milli",
        when(col("p2_milli") =!= col("p1_milli"),
          (signum(num) * signum(den)).cast("long") *
            call_function("div", abs(num) * 1000L, nullif(abs(den), dec(lit(0))))
              .cast("long")))
  }
}
