package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Sketches
import graft.engine.Pin.PinOps

/** Sketch-backed optimizer statistics — the ANALYZE face of the engine.
  *
  * The reference delegates all planning to the Snowflake optimizer, which
  * keeps per-column metadata (NDV, null counts, min/max) behind every
  * micro-partition; Spark's own CBO reads the same shape from
  * `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`. This module gives
  * the warehouse that metadata as FIRST-CLASS REGISTER TABLES built from
  * the engine's own mergeable sketches, so the statistics inherit every
  * law the sketch family already proved:
  *
  *  - per-column NDV rides the KMV bottom-k registers
  *    ([[graft.functions.Sketches.kmvRegisters]]) — k-bounded state, bag-
  *    union + re-take-k merge, so per-day / per-shard profiles roll up
  *    WITHOUT rescanning old data (the period-layout story), and the
  *    estimate replays digit-for-digit on any engine (exact-integer
  *    Beyer et al. 2007 form);
  *  - row / non-null counts are plain additive longs (one scan, one agg);
  *  - range selectivity reads a stored [[graft.functions.QuantileSketch]]
  *    summary whose kept cumulative ranks are EXACT, giving a one-sided
  *    per-endpoint error below the compression stride — a DECLARED error
  *    envelope, not a guess.
  *
  * On top sits the textbook System-R estimate (Selinger et al. 1979,
  * "Access Path Selection in a Relational Database Management System"):
  * equi-join output ~ |A| * |B| / max(ndv_A, ndv_B) under the containment
  * and uniformity assumptions, and a broadcast-vs-shuffle decision from
  * the stored counts alone — the plan choice a 1000-executor job gets
  * wrong most expensively when it guesses.
  */
object TableStats {

  /** The parts of a profile spec: a plain column name, or a COMPOSITE
    * column group declared as `"k1|k2"` — the multi-column join key
    * whose NDV System-R needs as ONE statistic (multiplying per-column
    * NDVs under independence is exactly the estimate correlated key
    * parts break). A composite profiles under the surrogate-key
    * rendering ([[graft.functions.Functions.surrogateKey]]'s
    * `'|'`-joined string casts — the byte format the A7 recipe already
    * fixed), and a tuple with ANY NULL part renders NULL (it never
    * equi-joins, so it carries no key statistics — mirroring the
    * single-column convention on both the register and count sides).
    */
  private def specParts(df: DataFrame, spec: String): Seq[String] = {
    val parts = spec.split("\\|").toSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"malformed profile spec: '$spec'")
    val missing = parts.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"columns not in the input: ${missing.mkString(",")}")
    parts
  }

  private def specValue(df: DataFrame, spec: String): Column = {
    val parts = specParts(df, spec)
    if (parts.size == 1) col(parts.head).cast("string")
    else when(parts.map(col(_).isNotNull).reduce(_ && _),
      concat_ws("|", parts.map(col(_).cast("string")): _*))
  }

  /** Per-column KMV profile registers in ONE scan and ONE k-bounded
    * aggregate for EVERY profiled column: each row explodes to
    * `(ts_col, rendered value)` pairs and the bottom-k runs grouped by
    * `ts_col`, so the pass costs one shuffle of at most `cols.size * k`
    * register rows regardless of table width or height. Values profile
    * under their STRING rendering (injective for the integral / string /
    * date columns statistics serve; the cast is the same one
    * `kmvRegisters` applies to every id), NULLs are dropped by the
    * register build (they join nothing and count separately in
    * [[columnCounts]]). A `"k1|k2"` spec profiles the composite key —
    * see [[specParts]].
    */
  def columnRegisters(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    val pairs = cols.map(c =>
      struct(lit(c).as("ts_col"), specValue(df, c).as("__v")))
    val exploded = df.select(explode(array(pairs: _*)).as("__e"))
      .select(col("__e.ts_col").as("ts_col"), col("__e.__v").as("__v"))
    Sketches.kmvRegisters(exploded, Seq("ts_col"), col("__v"), k)
  }

  /** Row and non-null counts for every profiled column in one scan / one
    * aggregate row, unpivoted to `(ts_col, n_rows, n_notnull)` — the
    * additive half of the profile (counts merge by SUM across shards or
    * period partitions; an empty table reads 0s, not NULLs). A
    * composite spec counts tuples whose EVERY part is non-null (a
    * NULL-carrying tuple never equi-joins).
    */
  def columnCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    val aggs = count(lit(1)).cast("long").as("__n") +:
      cols.zipWithIndex.map { case (c, i) =>
        count(specValue(df, c)).cast("long").as(s"__nn_$i") }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("ts_col"),
        col("__n").as("n_rows"), col(s"__nn_$i").as("n_notnull")) }
    row.select(explode(array(stacked: _*)).as("__e")).select(col("__e.*"))
  }

  /** NDV per profiled column from stored registers — the exact-integer
    * `(k-1) * 16^15 div kth` estimator over the md5 order statistic
    * ([[graft.functions.Sketches.kmvDistinctEstimate]]); a column with
    * fewer than k distinct values reads EXACT (the registers are then
    * the whole distinct set).
    */
  def ndvEstimate(regs: DataFrame, k: Int): DataFrame =
    Sketches.kmvDistinctEstimate(regs, Seq("ts_col"), k)
      .select(col("ts_col"), col("n_regs"), col("est_distinct").as("ndv"))

  /** One join side's `(n_<suffix>, ndv_<suffix>)` row from the stored
    * profile tables — the lookup a planner does per join input. LEFT
    * join from counts: an all-NULL profiled column builds zero KMV
    * registers (NULLs join nothing), so the ndv side has no row — the
    * planner still gets its one profile row `(n, ndv=0)` instead of a
    * silently empty frame that would zero every downstream estimate
    * (ADVICE r14).
    */
  def sideProfile(counts: DataFrame, ndv: DataFrame, column: String,
      suffix: String): DataFrame =
    counts.filter(col("ts_col") === column)
      .join(ndv.filter(col("ts_col") === column), Seq("ts_col"), "left")
      .select(col("n_notnull").as(s"n_$suffix"),
        coalesce(col("ndv"), lit(0L)).as(s"ndv_$suffix"))

  /** The System-R equi-join estimate + physical-plan advice, entirely
    * in-plan over two one-row side profiles: estimated output rows
    * `n_a * n_b div max(ndv_a, ndv_b, 1)` (containment + uniformity —
    * exact for clean FK joins, an UNDERestimate when the key
    * distribution is skewed, which the caller surfaces by contrast
    * against the exact count), and the broadcast decision from row
    * counts alone: the smaller side broadcasts iff it fits the declared
    * `broadcastMaxRows` budget, else the shuffle join is the right plan
    * (ties broadcast the left — a deterministic tiebreak the oracle
    * replays). [[applyAdvice]] turns the decision into the executed
    * plan; the spec pins BroadcastHashJoin presence/absence per advice.
    */
  def adviseEquiJoin(a: DataFrame, b: DataFrame,
      broadcastMaxRows: Long): DataFrame =
    a.crossJoin(b)
      .withColumn("est_join_rows", call_function("div",
        col("n_a").cast("decimal(38,0)") * col("n_b").cast("decimal(38,0)"),
        greatest(col("ndv_a"), col("ndv_b"), lit(1L)).cast("decimal(38,0)"))
        .cast("long"))
      .withColumn("join_plan",
        when(least(col("n_a"), col("n_b")) > lit(broadcastMaxRows),
          lit("shuffle"))
          .when(col("n_a") <= col("n_b"), lit("broadcast_left"))
          .otherwise(lit("broadcast_right")))

  /** Overlap-corrected equi-join estimate — the System-R containment
    * assumption replaced by the MEASURED key overlap: `setOps` is the
    * one-row [[graft.functions.Sketches.kmvSetOps]] output over the two
    * join columns' stored KMV registers, whose `est_both` estimates
    * |keys(A) ∩ keys(B)| directly, so the expected matches are
    * `est_both * (n_a div ndv_a) * (n_b div ndv_b)` under within-side
    * uniformity — computed as ONE truncating division
    * `est_both * n_a * n_b div (ndv_a * ndv_b)` in DECIMAL(38,0) (both
    * engines replay it). Containment makes System-R OVERestimate
    * whenever each side holds keys the other lacks (two filtered
    * slices of a dimension, two time windows); the sketch measures the
    * violation instead of assuming it away, from register-grain state
    * alone.
    */
  def equiJoinEstimateOverlap(a: DataFrame, b: DataFrame,
      setOps: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    a.crossJoin(b).crossJoin(setOps.select(col("est_both")))
      .withColumn("est_join_rows_overlap", call_function("div",
        dec(col("est_both")) * dec(col("n_a")) * dec(col("n_b")),
        greatest(dec(col("ndv_a")) * dec(col("ndv_b")),
          lit(1L).cast("decimal(38,0)"))).cast("long"))
  }

  /** Most-common-values profile — the end-biased histogram half of the
    * statistics (PostgreSQL's pg_stats MCV lists; DB2 frequent-value
    * statistics): the top-`k` values by EXACT count, deterministic
    * tie-break (count desc, value asc) so both engines keep the same
    * rows. One value-grain rollup then a window over the rollup only
    * (bounded by the column's NDV, never raw rows — the qsCompress
    * discipline); values stored under their string rendering like
    * [[columnRegisters]]. The skew these rows capture is exactly what
    * the uniformity assumption destroys — [[equiJoinEstimateMcv]] reads
    * them back.
    */
  def mcvProfile(df: DataFrame, column: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && k <= 65536, s"k: $k")
    val grain = df.filter(col(column).isNotNull)
      .groupBy(col(column).cast("string").as("mcv_value"))
      .agg(count(lit(1)).cast("long").as("mcv_count"))
    val w = Window.orderBy(col("mcv_count").desc, col("mcv_value").asc)
    grain.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Skew-aware equi-join estimate from two MCV profiles + side profiles
    * — PostgreSQL's `eqjoinsel_inner` (selfuncs.c) in relational integer
    * form. Four terms:
    *   t1: MCVs present on BOTH sides match exactly — sum a(v)*b(v);
    *   t2: A's unmatched MCV mass meets B's tail at its per-key average
    *       — mass * tail_mass_b div tail_ndv_b (one division, so no
    *       per-key truncation);
    *   t3: symmetric for B's unmatched MCVs;
    *   t4: tail x tail falls back to System-R over the REMAINING keys —
    *       tail_mass_a * tail_mass_b div max(tail_ndv_a, tail_ndv_b, 1).
    * Uniformity now only covers the tails, which is what makes the
    * estimate track skew: a Zipf head contributes its exact mass. All
    * arithmetic is DECIMAL(38,0) products with single truncating
    * divisions — digit-replayable. Output one row: the four terms,
    * `est_join_rows_mcv`, and the tail descriptors.
    */
  def equiJoinEstimateMcv(mcvA: DataFrame, a: DataFrame,
      mcvB: DataFrame, b: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = mcvA.select(col("mcv_value"), col("mcv_count").as("__ca"))
      .join(mcvB.select(col("mcv_value"), col("mcv_count").as("__cb")),
        Seq("mcv_value"), "full_outer")
      .agg(
        // per-entry product and the sum both in DECIMAL(38,0): two
        // multi-billion-count MCV entries would silently wrap a LongType
        // product (non-ANSI), breaking the digit-replayable discipline
        // the t_a_tail/t_tails terms already follow (ADVICE r14)
        coalesce(sum(when(col("__ca").isNotNull && col("__cb").isNotNull,
          dec(col("__ca")) * dec(col("__cb")))),
          lit(0L).cast("decimal(38,0)")).cast("long").as("t_matched"),
        coalesce(sum(when(col("__cb").isNull, col("__ca"))), lit(0L))
          .cast("long").as("__ua_mass"),
        coalesce(sum(when(col("__ca").isNull, col("__cb"))), lit(0L))
          .cast("long").as("__ub_mass"),
        count(col("__ca")).cast("long").as("__mcv_n_a"),
        count(col("__cb")).cast("long").as("__mcv_n_b"),
        coalesce(sum(col("__ca")), lit(0L)).cast("long").as("__mcv_mass_a"),
        coalesce(sum(col("__cb")), lit(0L)).cast("long").as("__mcv_mass_b"))
    a.crossJoin(b).crossJoin(m)
      .withColumn("tail_mass_a", col("n_a") - col("__mcv_mass_a"))
      .withColumn("tail_mass_b", col("n_b") - col("__mcv_mass_b"))
      .withColumn("tail_ndv_a",
        greatest(col("ndv_a") - col("__mcv_n_a"), lit(0L)))
      .withColumn("tail_ndv_b",
        greatest(col("ndv_b") - col("__mcv_n_b"), lit(0L)))
      .withColumn("t_a_tail", call_function("div",
        dec(col("__ua_mass")) * dec(col("tail_mass_b")),
        greatest(dec(col("tail_ndv_b")), lit(1L).cast("decimal(38,0)")))
        .cast("long"))
      .withColumn("t_b_tail", call_function("div",
        dec(col("__ub_mass")) * dec(col("tail_mass_a")),
        greatest(dec(col("tail_ndv_a")), lit(1L).cast("decimal(38,0)")))
        .cast("long"))
      .withColumn("t_tails", call_function("div",
        dec(col("tail_mass_a")) * dec(col("tail_mass_b")),
        greatest(dec(col("tail_ndv_a")), dec(col("tail_ndv_b")),
          lit(1L).cast("decimal(38,0)"))).cast("long"))
      .withColumn("est_join_rows_mcv", col("t_matched") + col("t_a_tail")
        + col("t_b_tail") + col("t_tails"))
      .drop("__ua_mass", "__ub_mass", "__mcv_n_a", "__mcv_n_b",
        "__mcv_mass_a", "__mcv_mass_b")
  }

  /** Cardinality feedback — the LEO loop (Stillger et al., "LEO — DB2's
    * LEarning Optimizer", VLDB 2001): executed queries RECORD their
    * (estimated, actual) cardinalities per predicate family into a
    * feedback table, and future estimates for that family multiply by
    * the observed aggregate ratio `sum(actual) div sum(est)` — one
    * truncating DECIMAL(38,0) division, digit-replayable. This is the
    * correction for what the stored statistics cannot see: correlated
    * and derived predicates, where the independence product is wrong by
    * a constant FACTOR the workload itself measures. The ratio
    * aggregates over the family's observations (mass-weighted, so large
    * predicates dominate — the robust integer form); an empty feedback
    * table leaves the estimate unchanged (ratio guard 0/0 -> raw).
    */
  def feedbackAdjust(raw: DataFrame, feedback: DataFrame,
      estCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val fb = feedback.agg(
      coalesce(sum(col("fb_actual")), lit(0L)).cast("long").as("fb_actual_sum"),
      coalesce(sum(col("fb_est")), lit(0L)).cast("long").as("fb_est_sum"))
    raw.crossJoin(fb)
      .withColumn(s"${estCol}_adjusted",
        when(col("fb_est_sum") > 0L, call_function("div",
          dec(col(estCol)) * dec(col("fb_actual_sum")),
          dec(col("fb_est_sum"))).cast("long"))
          .otherwise(col(estCol)))
  }

  /** Per-column quantile summaries in ONE scan — the histogram half of
    * the profile beside [[columnRegisters]]' NDV half: each row explodes
    * to `(ts_col, long value)` and one grouped register build + one
    * k-compression bounds every column's summary at k+1 rows. Integral
    * columns only (the quantize-first discipline —
    * [[graft.functions.QuantileSketch]]); NULLs carry no rank mass.
    */
  def columnSummaries(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    import graft.functions.QuantileSketch
    require(cols.nonEmpty, "no columns to summarize")
    cols.foreach { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"column not in the input: $c"))
      require(Seq("byte", "short", "integer", "long")
        .contains(f.dataType.typeName),
        s"columnSummaries column '$c' is ${f.dataType.typeName} — " +
          "quantize to an integral column first (epoch days / cents)")
    }
    val pairs = cols.map(c =>
      struct(lit(c).as("ts_col"), col(c).cast("long").as("__v")))
    val exploded = df.select(explode(array(pairs: _*)).as("__e"))
      .select(col("__e.ts_col").as("ts_col"), col("__e.__v").as("__v"))
      .filter(col("__v").isNotNull)
    QuantileSketch.qsCompress(
      QuantileSketch.qsRegistersBy(exploded, Seq(col("ts_col")), col("__v")),
      Seq("ts_col"), k)
  }

  /** Cluster-column advisor — the LAYOUT question the pruning surface
    * creates (q454's manifest made range-clustered layouts skippable;
    * this decides WHICH column earns the clustering, from stored
    * summaries + a declared workload): for a range predicate on the
    * cluster column, a clustered table scans ~its selectivity's worth
    * of files (the min/max sidecar keeps only covering files); for any
    * other predicate it scans everything (fraction 1e6 ppm). The
    * advisor prices each candidate as the workload-weighted scan
    * fraction `sum_w(weight * frac) div sum(weight)` where frac =
    * predicate selectivity from the column's stored quantile summary if
    * the predicate column matches the candidate, else 1e6 — and picks
    * the minimum (ties: candidate name asc). `workload` rows:
    * (wl_col, wl_lo, wl_hi, wl_weight); `summaries`: the per-column
    * register tables keyed by ts_col. Everything reads register-grain
    * stored state; the layout itself is built ONCE after the decision
    * (the spec pins that the chosen layout actually prunes).
    */
  def clusterAdvisor(summaries: DataFrame, workload: DataFrame,
      candidates: Seq[String]): DataFrame = {
    require(candidates.nonEmpty, "no candidate cluster columns")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // one pin for the 2-per-candidate reads below: the summary table is
    // cols * (k+1) rows by construction, so the checkpoint is free and
    // the stored sidecar is scanned ONCE (the bounded-frame discipline)
    val sums = summaries.pinLazy()
    // duplicate workload rows pre-aggregate by summing their weights:
    // the scoring below groups by the predicate tuple, so two identical
    // rows would otherwise collapse into ONE group whose joined summary
    // mass double-counts while the weight counts once (ADVICE r14) —
    // same-predicate repetition is BY DEFINITION extra weight
    val workload0 = workload
      .groupBy(col("wl_col"), col("wl_lo"), col("wl_hi"))
      .agg(sum(col("wl_weight")).cast("long").as("wl_weight"))
    val perCand = candidates.map { cand =>
      // selectivity per workload row AGAINST this candidate: matching
      // column -> summary mass in [lo, hi] over total; else full scan
      val wl = workload0.crossJoin(
        sums.filter(col("ts_col") === cand)
          .agg(sum(col("qs_weight")).cast("long").as("__w_total")))
      val scored = wl.join(
        sums.filter(col("ts_col") === cand)
          .select(col("qs_value"), col("qs_weight")),
        col("wl_col") === lit(cand), "left")
        .groupBy(col("wl_col"), col("wl_lo"), col("wl_hi"),
          col("wl_weight"), col("__w_total"))
        .agg(coalesce(sum(when(col("qs_value") <= col("wl_hi") &&
          col("qs_value") >= col("wl_lo"), col("qs_weight"))), lit(0L))
          .cast("long").as("__in_range"))
        .withColumn("__frac_ppm",
          when(col("wl_col") === lit(cand), call_function("div",
            dec(col("__in_range")) * lit(1000000L),
            greatest(dec(col("__w_total")), lit(1L).cast("decimal(38,0)")))
            .cast("long"))
            .otherwise(lit(1000000L)))
      scored.agg(
        call_function("div",
          dec(sum(col("wl_weight") * col("__frac_ppm"))),
          greatest(dec(sum(col("wl_weight"))), lit(1L).cast("decimal(38,0)")))
          .cast("long").as("est_scan_ppm"))
        .select(lit(cand).as("cluster_col"), col("est_scan_ppm"))
      // sel unused beyond documentation of the API shape
    }
    val all = perCand.reduce(_ unionByName _)
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("est_scan_ppm").asc, col("cluster_col").asc)
    all.withColumn("chosen",
      when(row_number().over(w) === 1, lit(1L)).otherwise(lit(0L)))
  }

  /** Per-column MCV profiles under one `ts_col` tag — the multi-column
    * form of [[mcvProfile]] for the advisor readers below (each column's
    * window is bounded by its own NDV; the union is register-grain:
    * ≤ cols.size * k rows).
    */
  def mcvProfiles(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    cols.map(c => mcvProfile(df, c, k).withColumn("ts_col", lit(c)))
      .reduce(_ unionByName _)
      .select(col("ts_col"), col("mcv_value"), col("mcv_count"))
  }

  /** Per-column Misra-Gries heavy-hitter registers under one `ts_col`
    * tag — the SKEW half of the profile ([[graft.functions.Sketches
    * .mgRegisters]]' no-false-negative law makes any hot list read from
    * these registers COMPLETE above the support threshold, and stored
    * counts are lower bounds so certification is sound — the q492/q501
    * routing evidence, now writable as a declared model sidecar). One
    * scan, k-bounded state per column; composite specs render like
    * [[columnRegisters]].
    */
  def mgProfiles(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    val pairs = cols.map(c =>
      struct(lit(c).as("ts_col"), specValue(df, c).as("__v")))
    val exploded = df.select(explode(array(pairs: _*)).as("__e"))
      .select(col("__e.ts_col").as("ts_col"), col("__e.__v").as("__v"))
      .filter(col("__v").isNotNull)
    Sketches.mgRegisters(exploded, Seq("ts_col"), col("__v"), k)
  }

  /** Equality-aware layout advisor — [[clusterAdvisor]] extended with the
    * predicate form it could not price (ADVICE-r14/VERDICT-r14 #3): an
    * equality-dominated workload (the q459 bloom shape) priced every
    * candidate as a full scan, because range selectivity from a quantile
    * summary says nothing about one value's mass. Equality rows price
    * from the MCV profile instead: a value IN the stored top-k reads its
    * EXACT count; a tail value reads the tail average
    * `(n - mcv_mass) div max(ndv - mcv_n, 1)` (the PostgreSQL
    * `var_eq_const` form, selfuncs.c) — both from register-grain stored
    * state. Workload rows carry `wl_kind` ('range' reads wl_lo/wl_hi
    * against the quantile summary exactly like [[clusterAdvisor]]; 'eq'
    * reads wl_value against the MCV profile), and each candidate's score
    * is the workload-weighted scan-fraction `sum(w * frac) div sum(w)`
    * in ppm, minimum wins (ties: name asc). A candidate missing its
    * profile prices the eq rows at 1e6 (unknown -> full scan), never as
    * free. The physical loop is the caller's: the chosen column's layout
    * + bloom sidecar must actually serve the equality reads (the q498
    * discipline — spec-pinned).
    */
  def layoutAdvisor(summaries: DataFrame, mcvs: DataFrame,
      counts: DataFrame, ndv: DataFrame, workload: DataFrame,
      candidates: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(candidates.nonEmpty, "no candidate layout columns")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val one = lit(1L).cast("decimal(38,0)")
    val sums = summaries.pinLazy()
    val mcv0 = mcvs.pinLazy()
    val prof0 = counts.join(ndv, Seq("ts_col"), "left")
      .select(col("ts_col"), col("n_notnull"),
        coalesce(col("ndv"), lit(0L)).as("ndv"))
      .pinLazy()
    // duplicate workload rows pre-aggregate by weight (the
    // clusterAdvisor discipline)
    val wl0 = workload.groupBy(col("wl_col"), col("wl_kind"), col("wl_lo"),
        col("wl_hi"), col("wl_value"))
      .agg(sum(col("wl_weight")).cast("long").as("wl_weight"))
      .pinLazy()
    val perCand = candidates.map { cand =>
      val rangeScored = wl0.filter(col("wl_kind") === "range")
        .crossJoin(sums.filter(col("ts_col") === cand)
          .agg(coalesce(sum(col("qs_weight")), lit(0L)).cast("long")
            .as("__w_total")))
        .join(sums.filter(col("ts_col") === cand)
          .select(col("qs_value"), col("qs_weight")),
          col("wl_col") === lit(cand), "left")
        .groupBy(col("wl_col"), col("wl_lo"), col("wl_hi"),
          col("wl_value"), col("wl_weight"), col("__w_total"))
        .agg(coalesce(sum(when(col("qs_value") <= col("wl_hi") &&
          col("qs_value") >= col("wl_lo"), col("qs_weight"))), lit(0L))
          .cast("long").as("__mass"))
        .withColumn("__frac_ppm",
          when(col("wl_col") =!= lit(cand), lit(1000000L))
            .when(col("__w_total") <= 0L, lit(1000000L))
            .otherwise(call_function("div",
              dec(col("__mass")) * lit(1000000L),
              greatest(dec(col("__w_total")), one)).cast("long")))
        .select(col("wl_weight"), col("__frac_ppm"))
      val mcvAgg = mcv0.filter(col("ts_col") === cand)
        .agg(coalesce(sum(col("mcv_count")), lit(0L)).cast("long")
          .as("__mcv_mass"), count(lit(1)).cast("long").as("__mcv_n"))
      val profRow = prof0.filter(col("ts_col") === cand)
        .agg(coalesce(sum(col("n_notnull")), lit(0L)).cast("long").as("__n"),
          coalesce(sum(col("ndv")), lit(0L)).cast("long").as("__ndv"))
      val eqScored = wl0.filter(col("wl_kind") === "eq")
        .join(mcv0.filter(col("ts_col") === cand)
          .select(col("mcv_value"), col("mcv_count")),
          col("wl_value") === col("mcv_value") &&
            col("wl_col") === lit(cand), "left")
        .crossJoin(mcvAgg).crossJoin(profRow)
        .withColumn("__mass", coalesce(col("mcv_count"),
          call_function("div", dec(col("__n") - col("__mcv_mass")),
            greatest(dec(col("__ndv") - col("__mcv_n")), one)).cast("long")))
        .withColumn("__frac_ppm",
          when(col("wl_col") =!= lit(cand), lit(1000000L))
            .when(col("__n") <= 0L, lit(1000000L))
            .otherwise(call_function("div",
              dec(col("__mass")) * lit(1000000L),
              greatest(dec(col("__n")), one)).cast("long")))
        .select(col("wl_weight"), col("__frac_ppm"))
      rangeScored.unionByName(eqScored).agg(
        call_function("div",
          dec(sum(col("wl_weight") * col("__frac_ppm"))),
          greatest(dec(sum(col("wl_weight"))), one))
          .cast("long").as("est_scan_ppm"))
        .select(lit(cand).as("layout_col"), col("est_scan_ppm"))
    }
    val all = perCand.reduce(_ unionByName _)
    val w = Window.orderBy(col("est_scan_ppm").asc, col("layout_col").asc)
    all.withColumn("chosen",
      when(row_number().over(w) === 1, lit(1L)).otherwise(lit(0L)))
  }

  /** Z-order PAIR advisor — VERDICT-r14 #4: q457 proved a 2-d box read
    * multiplies pruning on a Morton layout, but [[clusterAdvisor]] ranks
    * only single columns. Candidates here are column LISTS (one or two
    * columns; a pair names the Morton layout `rewriteZOrdered` builds),
    * and each 2-predicate box workload row prices as the PRODUCT of the
    * per-dimension scan fractions of the predicates the candidate's
    * columns serve — `frac1 * frac2 div 1e6` in ppm, a predicate on a
    * column the layout does not index contributing 1e6 (no pruning).
    * The independence the product assumes is the Morton-curve property
    * q457 measured (each interleaved dimension prunes its own bit
    * planes); per-dimension fractions read the stored quantile
    * summaries, an un-summarized predicate column prices 1e6 (unknown
    * -> full scan, never free). Output one row per candidate
    * (`layout = cols.mkString("|")`), workload-weighted `est_scan_ppm`,
    * minimum chosen (ties: layout asc). The caller closes the physical
    * loop: the advised pair's Morton layout must out-prune the best
    * single column on the declared boxes (ManifestSpec).
    */
  def zorderAdvisor(summaries: DataFrame, boxes: DataFrame,
      candidates: Seq[Seq[String]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(candidates.nonEmpty, "no candidate layouts")
    require(candidates.forall(c => c.nonEmpty && c.size <= 2),
      "candidates are 1- or 2-column layouts")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val one = lit(1L).cast("decimal(38,0)")
    val sums = summaries.pinLazy()
    val wl0 = boxes.groupBy(col("wl_col1"), col("wl_lo1"), col("wl_hi1"),
        col("wl_col2"), col("wl_lo2"), col("wl_hi2"))
      .agg(sum(col("wl_weight")).cast("long").as("wl_weight"))
      .pinLazy()
    // per-predicate selectivities once, independent of candidates:
    // distinct (col, lo, hi) triples against the column's summary
    def selFrame(i: Int): DataFrame =
      wl0.select(col(s"wl_col$i").as("__c"), col(s"wl_lo$i").as("__lo"),
          col(s"wl_hi$i").as("__hi")).distinct()
        .join(sums.select(col("ts_col"), col("qs_value"), col("qs_weight")),
          col("__c") === col("ts_col"), "left")
        .groupBy(col("__c"), col("__lo"), col("__hi"))
        .agg(coalesce(sum(when(col("qs_value") <= col("__hi") &&
          col("qs_value") >= col("__lo"), col("qs_weight"))), lit(0L))
          .cast("long").as("__mass"),
          coalesce(sum(col("qs_weight")), lit(0L)).cast("long")
            .as("__total"))
        .withColumn(s"sel${i}_ppm",
          when(col("__total") <= 0L, lit(1000000L))
            .otherwise(call_function("div",
              dec(col("__mass")) * lit(1000000L),
              greatest(dec(col("__total")), one)).cast("long")))
        .select(col("__c").as(s"wl_col$i"), col("__lo").as(s"wl_lo$i"),
          col("__hi").as(s"wl_hi$i"), col(s"sel${i}_ppm"))
    val scored = wl0
      .join(selFrame(1), Seq("wl_col1", "wl_lo1", "wl_hi1"))
      .join(selFrame(2), Seq("wl_col2", "wl_lo2", "wl_hi2"))
      .pinLazy()
    val perCand = candidates.map { cand =>
      val name = cand.mkString("|")
      scored
        .withColumn("__f1", when(col("wl_col1").isInCollection(cand),
          col("sel1_ppm")).otherwise(lit(1000000L)))
        .withColumn("__f2", when(col("wl_col2").isInCollection(cand),
          col("sel2_ppm")).otherwise(lit(1000000L)))
        .withColumn("__frac_ppm", call_function("div",
          dec(col("__f1")) * dec(col("__f2")),
          lit(1000000L).cast("decimal(38,0)")).cast("long"))
        .agg(call_function("div",
          dec(sum(col("wl_weight") * col("__frac_ppm"))),
          greatest(dec(sum(col("wl_weight"))), one))
          .cast("long").as("est_scan_ppm"))
        .select(lit(name).as("layout"), col("est_scan_ppm"))
    }
    val all = perCand.reduce(_ unionByName _)
    val w = Window.orderBy(col("est_scan_ppm").asc, col("layout").asc)
    all.withColumn("chosen",
      when(row_number().over(w) === 1, lit(1L)).otherwise(lit(0L)))
  }

  /** Apply an advised plan: the driver-side hint the decision bought.
    * "shuffle" plants NO hint (Catalyst/AQE keep their own judgement —
    * advice never FORBIDS a broadcast Spark's size stats justify, it
    * only adds one where row-count stats prove the side small).
    */
  def applyAdvice(left: DataFrame, right: DataFrame, on: Seq[String],
      plan: String): DataFrame = plan match {
    case "broadcast_left" => broadcast(left).join(right, on)
    case "broadcast_right" => left.join(broadcast(right), on)
    case "shuffle" => left.join(right, on)
    case other => throw new IllegalArgumentException(s"join_plan: $other")
  }

  /** ANALYZE as a model post-hook — statistics as a DECLARED part of the
    * materialization lifecycle (dbt post_hook; Snowflake keeps the
    * equivalent metadata automatically behind every micro-partition,
    * Spark CBO behind a separate ANALYZE TABLE command a pipeline must
    * remember to run): `postHooks = Seq(TableStats.analyzeHook(cols))`
    * (re)writes the two profile sidecar tables
    * `<model>__stats_counts` / `<model>__stats_regs` after EVERY
    * materialization of the model — CTAS, incremental merge, microbatch
    * window — over the full materialized relation the hook receives
    * (the reference's hook position: main DML, then hooks, then commit;
    * dbt-snowflake incremental.sql:172-182). Consumers read the profile
    * by table name through [[readProfile]]; the swap protocol makes the
    * refresh atomic. This is the recompute form; the O(new partitions)
    * incremental form is the period-layout register composition (the
    * q489 shape), which a microbatch model gets by pointing the hook's
    * cost at its own slice sizes.
    */
  def analyzeHook(cols: Seq[String], k: Int = 256,
      /** Declared MCV columns — the skew/equality half of the profile
        * (`<model>__stats_mcv`): declare ONLY keys an equality workload
        * probes; a top-k list over a near-unique column is meaningless
        * and its value-grain window costs O(NDV log NDV) at scale.
        */
      mcvCols: Seq[String] = Nil, mcvK: Int = 64,
      /** Declared quantile-summary columns — the range-selectivity half
        * (`<model>__stats_sums`); integral columns only (the
        * quantize-first discipline).
        */
      summaryCols: Seq[String] = Nil, summaryK: Int = 256,
      /** Declared Misra-Gries columns — the skew half
        * (`<model>__stats_mg`): join keys whose hot slice a declared
        * join may need to route ([[graft.engine.Registry]] ctx.join's
        * skew routing reads these).
        */
      mgCols: Seq[String] = Nil, mgK: Int = 8): Hook.Hook =
    ctx => {
      val name = ctx.model.getOrElse(throw new IllegalArgumentException(
        "analyzeHook is a MODEL hook — run-level contexts carry no relation"))
      val rel = ctx.relation.getOrElse(ctx.wh.read(name))
      // Optimization r15 note: a one-scan variant (shared per-column
      // (value, count) rollup feeding all five families) was implemented
      // and MEASURED SLOWER (q494 5.6 -> 8.2 s, q508 6.5 -> 7.1 s at
      // sf0.1): the families' own builders keep k-BOUNDED map-side
      // partial aggregation (BottomKPairs) so their shuffles move k rows,
      // while the shared rollup full-shuffles the value grain of every
      // profiled column (near-unique columns: ~row grain) and then
      // materializes it. Scanning the already-materialized relation once
      // per family is the cheaper side of that trade — kept as is.
      ctx.wh.writeSwap(s"${name}__stats_counts", columnCounts(rel, cols))
      ctx.wh.writeSwap(s"${name}__stats_regs", columnRegisters(rel, cols, k))
      // the register count the KMV estimate must be read at (readProfile)
      ctx.wh.putMeta(s"${name}__stats_regs", k.toString)
      if (mcvCols.nonEmpty)
        ctx.wh.writeSwap(s"${name}__stats_mcv",
          mcvProfiles(rel, mcvCols, mcvK))
      if (summaryCols.nonEmpty)
        ctx.wh.writeSwap(s"${name}__stats_sums",
          columnSummaries(rel, summaryCols, summaryK))
      if (mgCols.nonEmpty)
        ctx.wh.writeSwap(s"${name}__stats_mg", mgProfiles(rel, mgCols, mgK))
    }

  /** SAMPLE as a model post-hook — the AQP stored sample joining the
    * declared-sidecar families (counts/KMV, MCV, summaries, MG,
    * rollups): `postHooks = Seq(TableStats.sampleHook("id"))` (re)writes
    * `<model>__aqp_sample` ([[graft.functions.Sketches
    * .uniformSampleTable]] — md5-bottom-k with payload) after every
    * materialization, so the sample a consumer reads BY NAME always
    * describes the relation's current state; closure under selection
    * makes it the sidecar for questions nobody declared (the rollup
    * sidecars' opposite trade). Append-only models can maintain the
    * sample in O(batch + k) instead via [[graft.functions.Sketches
    * .uniformSampleMerge]] (byte-identical to this hook's rebuild — the
    * KMV merge law, FunctionsSpec-pinned).
    */
  def sampleHook(idCol: String, k: Int = 256): Hook.Hook = ctx => {
    val name = ctx.model.getOrElse(throw new IllegalArgumentException(
      "sampleHook is a MODEL hook — run-level contexts carry no relation"))
    val rel = ctx.relation.getOrElse(ctx.wh.read(name))
    ctx.wh.writeSwap(s"${name}__aqp_sample",
      graft.functions.Sketches.uniformSampleTable(rel, col(idCol), k))
  }

  /** OPTIMIZE as a model post-hook — the layout advice ACTED ON inside
    * the materialization lifecycle (the [[analyzeHook]] position one
    * step further: Snowflake's automatic clustering service re-lays
    * micro-partitions against the declared cluster keys; here the
    * declared BOX WORKLOAD plus the model's own hook-written summaries
    * decide the layout, and the hook rebuilds it): runs
    * [[zorderAdvisor]] over `<model>__stats_sums` (declare
    * `summaryCols` on an [[analyzeHook]] EARLIER in the postHooks list
    * — hooks run in declaration order) against the declared boxes and
    * candidates, then rebuilds the relation as the chosen layout — a
    * 2-column winner takes the Morton rewrite
    * ([[Warehouse.rewriteZOrdered]]), a single column the range-
    * clustered swap — and (re)writes the data-skipping manifest over
    * every candidate column, so downstream declared-predicate refs
    * prune against whatever was chosen. Plan-time cost: register-grain
    * advisor reads + one 1-row collect; the rebuild is the honest
    * one-time materialization the advice exists to justify.
    */
  def zorderHook(boxes: DataFrame, candidates: Seq[Seq[String]],
      numFiles: Int = 0): Hook.Hook = ctx => {
    val name = ctx.model.getOrElse(throw new IllegalArgumentException(
      "zorderHook is a MODEL hook — run-level contexts carry no relation"))
    require(ctx.wh.exists(s"${name}__stats_sums"),
      s"zorderHook on '$name' found no __stats_sums sidecar — declare " +
        "summaryCols on an analyzeHook BEFORE zorderHook in postHooks")
    val chosen = zorderAdvisor(ctx.wh.read(s"${name}__stats_sums"),
      boxes, candidates)
      .filter(col("chosen") === 1L).collect()(0).getString(0)
    val manifestCols = candidates.flatten.distinct
    chosen.split("\\|").toSeq match {
      case Seq(a, b) =>
        // records the manifest columns first so the Morton rewrite's
        // auto-refresh keeps them current from here on
        ctx.wh.writeStatsManifest(name, manifestCols)
        ctx.wh.rewriteZOrdered(name, a, b, numFiles)
      case Seq(a) =>
        // numFiles pins the range-partition count like the Morton path
        // (AQE would otherwise coalesce a small rebuild into one file
        // and leave nothing to prune)
        val relaid =
          if (numFiles > 0)
            ctx.wh.read(name).repartitionByRange(numFiles, col(a))
          else ctx.wh.read(name).repartitionByRange(col(a))
        ctx.wh.writeSwap(name, relaid.sortWithinPartitions(a),
          statsCols = manifestCols)
      case other => throw new IllegalStateException(
        s"zorderHook: unexpected layout choice '$chosen'")
    }
  }

  /** One side's `(n_<suffix>, ndv_<suffix>)` profile row for a HOOK-
    * analyzed table, by name — the planner-facing read. The NDV estimate
    * reads the registers at the k the hook recorded beside them.
    */
  def readProfile(wh: Warehouse, tableName: String, column: String,
      suffix: String): DataFrame = {
    val regs = s"${tableName}__stats_regs"
    val k = wh.getMeta(regs).getOrElse(throw new IllegalStateException(
      s"$regs has no recorded register count — rewrite it with analyzeHook")).toInt
    sideProfile(wh.read(s"${tableName}__stats_counts"),
      ndvEstimate(wh.read(regs), k), column, suffix)
  }

  /** Range selectivity `count(rows with value in [lo, hi])` from a
    * STORED quantile summary ([[graft.functions.QuantileSketch]]), never
    * touching the data: the summary's cumulative weight at each endpoint
    * is the exact rank of the largest kept value <= the endpoint, and
    * the mass between adjacent kept values is below the compression
    * stride `s = ceil(W/k)`, so each endpoint rank carries a one-sided
    * error in `[0, s)` and the range estimate lands within `s` of the
    * truth — `err_bound` DECLARES it beside the estimate (per
    * compression level, the standard mergeable-summary accounting; this
    * reader assumes the one-level summaries the engine's ANALYZE
    * writes). Grouped form: one rollup over register rows only.
    */
  def rangeCountEstimate(summary: DataFrame, groupCols: Seq[String],
      lo: Long, hi: Long, k: Int): DataFrame = {
    require(lo <= hi, s"range [$lo, $hi]")
    require(k >= 2, s"k: $k")
    val gcols = groupCols.map(col)
    val base = summary.groupBy(gcols: _*).agg(
      sum(when(col("qs_value") <= lit(hi), col("qs_weight"))
        .otherwise(lit(0L))).cast("long").as("__rank_hi"),
      sum(when(col("qs_value") <= lit(lo - 1L), col("qs_weight"))
        .otherwise(lit(0L))).cast("long").as("__rank_lo"),
      sum(col("qs_weight")).cast("long").as("w_total"))
    base
      .withColumn("est_in_range", col("__rank_hi") - col("__rank_lo"))
      .withColumn("err_bound", call_function("div",
        col("w_total") + lit(k.toLong - 1L), lit(k.toLong)))
      .drop("__rank_hi", "__rank_lo")
  }
}
