package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Pin.PinOps

/** Mergeable cardinality sketch (HyperLogLog, Flajolet et al. 2007) built
  * from pure column ops — the 100 TB COUNT DISTINCT path: registers are
  * (bucket -> max rho) rows, associatively combinable at ANY granularity
  * (partition, partition-file, day, shard) with a plain max-regroup, so a
  * corpus-wide distinct estimate never shuffles raw values, only m rows per
  * group.
  *
  * Engine-portable determinism (the property the DuckDB oracle gates):
  * registers derive from md5 (identical everywhere); the estimator uses only
  * exact arithmetic — 2^-rho terms are exact doubles, their sums stay exact
  * (<= 41 mantissa bits), and the final single division is IEEE
  * correctly-rounded — so the ESTIMATE is bit-identical on any engine, with
  * no pow/ln in the hot path. The small-range linear-counting correction is
  * deliberately omitted (it needs ln, which is not correctly-rounded across
  * libms); callers below ~3m distinct values should use exact counting.
  */
object Sketches {

  /** Register bucket: first b bits of md5 (b a multiple of 4 so the bucket
    * aligns to hex digits). NULL values hash to NULL and must be filtered by
    * the caller (COUNT DISTINCT ignores NULLs).
    */
  def hllBucket(v: Column, b: Int = 8): Column = {
    require(b % 4 == 0 && b >= 4 && b <= 16, s"b: $b (multiple of 4, 4..16)")
    conv(substring(md5(v.cast("string")), 1, b / 4), 16, 10).cast("int")
  }

  /** rho = 1 + leading zeros of the next 32 hash bits (33 when all zero). */
  def hllRho(v: Column, b: Int = 8): Column = {
    val bin = lpad(conv(substring(md5(v.cast("string")), b / 4 + 1, 8), 16, 2), 32, "0")
    coalesce(nullif(instr(bin, "1"), lit(0)), lit(33)).cast("int")
  }

  /** Per-group register table: one row per (groupCols, bucket) carrying the
    * max rho — the sketch in relational form. Registers from ANY partition
    * of the data merge by the same groupBy+max (associative, idempotent).
    */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], v: Column,
      b: Int = 8): DataFrame =
    hllRegistersBy(df, groupCols.map(col), v, b)

  /** Column-keyed form — the ONE register derivation batch and streaming
    * share (a streaming caller groups by `window(...)`, which has no string
    * name); a second copy of the null filter / bucket / max-rho recipe would
    * silently drift.
    */
  def hllRegistersBy(df: DataFrame, groupCols: Seq[Column], v: Column,
      b: Int = 8): DataFrame = {
    // b must align to whole hex digits: bucket is substring(md5, 1, b/4).
    // A misaligned b (e.g. 10) would silently shear the bucket/rho substrings
    // and corrupt the estimate (alphaM2 assumes exactly 2^b buckets).
    require(b % 4 == 0 && b >= 4 && b <= 16, s"b must be a multiple of 4 in [4,16], got $b")
    require(!df.columns.contains("__hll_md5"), "column name '__hll_md5' is reserved")
    // ONE md5 per row: bucket and rho both derive from the same digest
    // materialized behind a projection — the per-expression form (hllBucket
    // + hllRho each calling md5) hashes every value twice, and hashing is
    // the dominant per-row cost of the 100 TB COUNT DISTINCT path. Recipes
    // stay byte-identical to hllBucket/hllRho (the oracle-gated forms).
    val bucket = conv(substring(col("__hll_md5"), 1, b / 4), 16, 10).cast("int")
    val bin = lpad(conv(substring(col("__hll_md5"), b / 4 + 1, 8), 16, 2), 32, "0")
    val rho = coalesce(nullif(instr(bin, "1"), lit(0)), lit(33)).cast("int")
    df.filter(v.isNotNull)
      .withColumn("__hll_md5", md5(v.cast("string")))
      .groupBy((groupCols :+ bucket.as("hll_bucket")): _*)
      .agg(max(rho).as("hll_rho"))
      // the build parameter rides WITH the sketch: estimator-side b
      // mismatches in BOTH directions (larger b raises via the bucket-range
      // guard; smaller b would silently shrink m and systematically
      // underestimate) become in-plan raises wherever the register table is
      // consumed. One literal per row of an m-row table — free.
      .withColumn("hll_b", lit(b))
  }

  /** In-plan b validation for a register table that carries `hll_b`
    * ([[hllRegistersBy]] output): any register row recording a different
    * build parameter raises during the scan — no extra job, no extra
    * shuffle. Tables without the column (externally built registers) pass
    * through and rely on [[hllEstimate]]'s bucket-range guard, which
    * catches larger-b registers only.
    */
  private def validateB(registers: DataFrame, b: Int): DataFrame =
    if (!registers.columns.contains("hll_b")) registers
    else registers.withColumn("hll_rho",
      when(col("hll_b") =!= b, raise_error(concat(
        lit(s"hll register b mismatch: estimator called with b=$b, registers built with b="),
        col("hll_b").cast("string"))).cast("int"))
        .otherwise(col("hll_rho")))
      .drop("hll_b")

  /** alpha_m * m^2 for the raw HLL estimator. The asymptotic formula
    * 0.7213/(1 + 1.079/m) holds for m >= 128; smaller register counts use
    * the paper's fixed constants (Flajolet et al. 2007, Fig. 3:
    * alpha_16 = 0.673, alpha_32 = 0.697, alpha_64 = 0.709) — applying the
    * formula there would bias every estimate deterministically high.
    */
  def alphaM2(b: Int): Double = {
    val m = (1 << b).toDouble
    val alpha = (1 << b) match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    alpha * m * m
  }

  /** Raw HLL estimate per group from a register table: alpha*m^2 / S where
    * S = sum(2^-rho) over present registers + 1.0 per EMPTY register (rho 0).
    * The sparse form needs no dense array — absent buckets contribute
    * exactly 1.0 each.
    *
    * `b` must MATCH the registers' build parameter: a mismatch silently
    * corrupts the estimate (wrong m, possibly negative empty-bucket count),
    * so the estimate expression raises when a bucket id is out of range.
    */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String],
      b: Int = 8): DataFrame = {
    val m = 1 << b
    validateB(registers, b).groupBy(groupCols.map(col): _*)
      .agg(
        // variable-amount shift: the DSL shiftleft only takes a literal
        // count, the underlying SQL expression takes a column
        sum(lit(1.0) / expr("cast(shiftleft(cast(1 as bigint), hll_rho) as double)")).as("__s"),
        count(lit(1)).as("__nb"),
        max(col("hll_bucket")).as("__maxb"))
      .withColumn("hll_estimate",
        when(col("__maxb") >= m, raise_error(concat(
          lit(s"hll_bucket out of range for b=$b (m=$m): registers were built with a larger b, got bucket "),
          col("__maxb").cast("string"))).cast("double"))
          // a global agg over an EMPTY register table yields one row with
          // NULL sum: zero registers means zero values seen — estimate 0.0,
          // not NULL (the raw estimator's alpha*m "empty" asymptote is an
          // artifact of its nonzero-cardinality domain)
          .when(col("__nb") === 0, lit(0.0))
          .otherwise(lit(alphaM2(b)) /
            (col("__s") + (lit(m) - col("__nb")).cast("double"))))
      .drop("__s", "__nb", "__maxb")
  }

  /** Order-independent content checksum per group: sum (exact, DECIMAL) of
    * each row's 60-bit md5 prefix over the given columns. Because addition
    * is commutative/associative, the checksum is independent of row order,
    * partitioning, and merge order — two tables (or a table and its
    * post-swap/post-migration copy) match iff their checksums match, up to
    * the 2^-60-per-row collision bound. Mergeable: shard checksums ADD.
    *
    * This is the 100 TB table-equality primitive: comparing a trillion rows
    * moves one DECIMAL per group, where EXCEPT ALL would shuffle both
    * tables. The row encoding is INJECTIVE, not delimiter-joined: each
    * column contributes a LENGTH-PREFIXED token `<len>:<value>` (NULL is
    * the token `n;`). A separator-based encoding ("a|", "b" vs "a", "|b")
    * collides with probability 1 when a separator shifts between columns;
    * length-prefixed tokens parse uniquely (a token starts with `n` or
    * with its digit-run length), so distinct rows collide only with md5
    * probability — and the row still pays exactly ONE md5 (hashing each
    * column separately would double+ the per-row cost, the dominant term).
    * 60 bits (15 hex digits) keeps the per-row term exactly representable
    * as a long; DECIMAL(38,0) absorbs ~2^65 rows without overflow.
    */
  def groupChecksum(df: DataFrame, groupCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "no columns to checksum")
    val tokens = valueCols.map { c =>
      val s = col(c).cast("string")
      coalesce(concat(length(s).cast("string"), lit(":"), s), lit("n;"))
    }
    val rowHash = conv(substring(md5(concat(tokens: _*)), 1, 15), 16, 10)
      .cast("long")
    // the per-row full-width md5 is CPU-bound — spread a single-split
    // input first (graft.sources.Sources.fanOut scaladoc; measured q123
    // 3.0 -> 1.7 s)
    graft.sources.Sources.fanOut(df).groupBy(groupCols.map(col): _*)
      .agg(sum(rowHash.cast("decimal(38,0)")).as("checksum"),
        count(lit(1)).as("n_rows"))
  }

  /** HLL set-operation estimates from TWO ungrouped register tables built
    * with the same `b`: |A|, |B|, |A union B| (register-wise max — the HLL
    * union is EXACT over sketches), and |A intersect B| by
    * inclusion-exclusion (est_a + est_b - est_union, floored at 0 since
    * sketch noise can push the difference negative). The overlap estimate
    * inherits the union's relative error SCALED BY the set sizes — for
    * small true overlaps it is a rough signal, not a count; use bloom/exact
    * joins when the overlap itself must be precise.
    *
    * This is the 100 TB audience-overlap path: both inputs stay sketched
    * (m rows each), so comparing two billion-user sets moves 2m register
    * rows and zero raw values. Same exact-arithmetic estimator as
    * [[hllEstimate]], hence engine-portable.
    */
  def hllSetOps(regsA: DataFrame, regsB: DataFrame, b: Int = 8): DataFrame = {
    // validate BOTH inputs up front (both directions when hll_b rides
    // along): the per-side re-rollup below would otherwise drop the carried
    // build parameter before the estimator could check it
    val va = validateB(regsA, b)
    val vb = validateB(regsB, b)
    val est = (r: DataFrame, name: String) =>
      hllEstimate(r.groupBy(col("hll_bucket")).agg(max(col("hll_rho")).as("hll_rho")),
        Seq.empty, b).select(col("hll_estimate").as(name))
    val union = va.select(col("hll_bucket"), col("hll_rho"))
      .unionByName(vb.select(col("hll_bucket"), col("hll_rho")))
    est(va, "est_a")
      .crossJoin(est(vb, "est_b"))
      .crossJoin(est(union, "est_union"))
      .withColumn("est_intersect",
        greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union")))
  }

  // ------------------------------------------------------------------
  // Count-Min frequency sketch (Cormode & Muthukrishnan 2005)
  // ------------------------------------------------------------------

  /** Counter column for hash row `row`: first 32 md5 bits of
    * `value || "|cm" || row` mod `w` — engine-portable like
    * [[graft.pipeline.Sampling.hashBucket]].
    */
  def cmCol(v: Column, row: Int, w: Int): Column =
    conv(substring(md5(concat(v.cast("string"), lit("|cm" + row))), 1, 8), 16, 10)
      .cast("long") % w

  /** Mergeable frequency sketch in relational form: `d` independent hash
    * rows x `w` counters; a register row is (group..., cm_row, cm_col,
    * cm_count). Registers built over ANY partition of the data combine with
    * the same groupBy+sum — associative and commutative, so a corpus-wide
    * frequency table shuffles at most d*w rows per group, never raw values.
    * Error bound: a point lookup overestimates by at most 2N/w with
    * probability 1 - 2^-d (never underestimates).
    *
    * NULL values are filtered (a frequency query on NULL is meaningless);
    * counts are exact longs, so sketches are bit-identical on any engine.
    */
  def cmRegisters(df: DataFrame, groupCols: Seq[String], v: Column,
      d: Int = 4, w: Int = 256): DataFrame =
    cmRegistersBy(df, groupCols.map(col), v, d, w)

  /** Column-keyed form — the ONE register derivation batch and streaming
    * share (streaming groups by `window(...)`), mirroring
    * [[hllRegistersBy]].
    */
  def cmRegistersBy(df: DataFrame, groupCols: Seq[Column], v: Column,
      d: Int = 4, w: Int = 256): DataFrame = {
    require(d >= 1 && d <= 16, s"d must be in [1,16], got $d")
    require(w >= 2 && w <= (1 << 20), s"w must be in [2,2^20], got $w")
    Seq("__cm_v", "__cm_cell").foreach(n =>
      require(!df.columns.contains(n), s"column name '$n' is reserved"))
    val cells = array((0 until d).map(i =>
      struct(lit(i).as("cm_row"), cmCol(col("__cm_v"), i, w).as("cm_col"))): _*)
    // withColumn (not select): group expressions like window(ts) must still
    // see their source columns at the groupBy below
    df.filter(v.isNotNull)
      .withColumn("__cm_v", v.cast("string"))
      .withColumn("__cm_cell", explode(cells))
      .groupBy((groupCols :+ col("__cm_cell.cm_row").as("cm_row"))
        :+ col("__cm_cell.cm_col").as("cm_col"): _*)
      .agg(count(lit(1)).as("cm_count"))
  }

  /** Point-frequency estimates for a set of probe keys against an
    * UNGROUPED register table: min over the d counters each key hashes to.
    * An untouched counter reads 0 — correct, since a key that was ever
    * added incremented all d of its cells. The probe side is tiny by
    * construction, so the register join broadcasts.
    *
    * `d`/`w` must MATCH the registers' build parameters (same contract as
    * [[hllEstimate]]'s `b`).
    */
  def cmEstimate(registers: DataFrame, keys: DataFrame, v: Column,
      d: Int = 4, w: Int = 256): DataFrame = {
    val cells = array((0 until d).map(i =>
      struct(lit(i).as("cm_row"), cmCol(col("key"), i, w).as("cm_col"))): _*)
    keys.select(v.cast("string").as("key")).filter(col("key").isNotNull)
      .distinct()
      .select(col("key"), explode(cells).as("__cm_cell"))
      .select(col("key"), col("__cm_cell.cm_row").as("cm_row"),
        col("__cm_cell.cm_col").as("cm_col"))
      .join(registers, Seq("cm_row", "cm_col"), "left")
      .groupBy(col("key"))
      .agg(min(coalesce(col("cm_count"), lit(0L))).as("cm_est"))
  }

  // ------------------------------------------------------------------
  // Log2-histogram sketch (order statistics at stream scale)
  // ------------------------------------------------------------------

  /** Power-of-two bin for a non-negative long: the bit length of v — bin 1
    * covers {0, 1}, bin b >= 2 covers [2^(b-1), 2^b - 1]. Computed as the
    * length of the binary string — exact integer arithmetic, NO log2 (libm
    * log is not correctly-rounded across engines; this is, and DuckDB's
    * bin() prints the identical unpadded form).
    */
  def histBin(v: Column): Column = length(bin(v)).cast("int")

  /** Mergeable log2-histogram registers (group..., hist_bin, hist_count)
    * for quantile estimation over NON-NEGATIVE longs (latencies, lengths,
    * token counts — quantize money/doubles first). Registers from any
    * partition of the data merge by groupBy+sum, so a stream can maintain
    * them with a windowed count where an exact quantile would need the full
    * value multiset. At most 64 bins per group bounds both state and
    * shuffle. Negative values raise rather than silently corrupting every
    * downstream quantile; NULLs are ignored.
    *
    * The companion estimator is [[histQuantile]]; exact quantiles (when the
    * value domain is small enough to roll up) are
    * [[graft.pipeline.Stats.exactQuantiles]].
    */
  def histRegisters(df: DataFrame, groupCols: Seq[String], v: Column): DataFrame =
    histRegistersBy(df, groupCols.map(col), v)

  /** Column-keyed form shared by batch and streaming (same contract as
    * [[hllRegistersBy]]/[[cmRegistersBy]]).
    */
  def histRegistersBy(df: DataFrame, groupCols: Seq[Column], v: Column): DataFrame = {
    val checked = when(v < 0, raise_error(concat(
      lit("histRegisters requires non-negative values, got "), v.cast("string"))))
      .otherwise(v.cast("long"))
    df.filter(v.isNotNull)
      .groupBy((groupCols :+ histBin(checked).as("hist_bin")): _*)
      .agg(count(lit(1)).as("hist_count"))
  }

  /** Quantile UPPER BOUNDS from a register table: the same all-integer
    * per-mille rank cut as [[graft.pipeline.Stats.exactQuantiles]], taken
    * over bins; returns 2^bin - 1, the largest value the rank's bin can
    * hold. One-sided guarantee: estimate >= true quantile > estimate / 2
    * (a factor-2 bound; for tighter bounds use more, narrower sketches —
    * e.g. quantize inputs upward before binning).
    */
  def histQuantile(registers: DataFrame, groupCols: Seq[String],
      qMilles: Seq[Int]): DataFrame = {
    require(qMilles.nonEmpty && qMilles.forall(q => q > 0 && q <= 1000),
      s"qMilles must be in (0, 1000]: $qMilles")
    val gcols = groupCols.map(col)
    val byBin = org.apache.spark.sql.expressions.Window
      .partitionBy(gcols: _*).orderBy(col("hist_bin").asc)
    val whole = org.apache.spark.sql.expressions.Window.partitionBy(gcols: _*)
    registers
      .withColumn("cum", sum(col("hist_count")).over(byBin))
      .withColumn("tot", sum(col("hist_count")).over(whole))
      .select(gcols ++ Seq(col("hist_bin"), col("hist_count"), col("cum"),
        col("tot"), explode(array(qMilles.map(q => lit(q)): _*)).as("q_mille")): _*)
      .filter(col("cum") * 1000L >= col("q_mille").cast("long") * col("tot") &&
        (col("cum") - col("hist_count")) * 1000L <
          col("q_mille").cast("long") * col("tot"))
      .select(gcols ++ Seq(col("q_mille"),
        // bin 63 (values >= 2^62) would overflow 1<<63 - 1: non-ANSI wraps,
        // ANSI (and DuckDB) throw — clamp to the type's true upper bound
        when(col("hist_bin") >= 63, lit(Long.MaxValue))
          .otherwise(expr("cast(shiftleft(cast(1 as bigint), hist_bin) as bigint)") - 1L)
          .as("value_upper")): _*)
  }

  /** KMV key: the md5 hex digest of the id — uniform on [0, 1) under the
    * 32-hex-char lexicographic order (fixed-length lowercase hex sorts
    * identically as a string in every engine, so the "k minimum values"
    * are engine-portable by construction).
    */
  def kmvKey(id: Column): Column = md5(id.cast("string"))

  /** K-minimum-values sketch (Bar-Yossef et al. 2002; Beyer et al. 2007's
    * unbiased estimator) — the mergeable-sketch family member HLL lacks:
    * the k smallest [[kmvKey]] digests per group over DISTINCT ids are
    * SIMULTANEOUSLY (a) a uniform k-sample without replacement of the
    * group's distinct ids (the hash order is uniform and id-independent —
    * the deterministic reservoir a 100 TB pipeline can actually merge)
    * and (b) a distinct-count estimator ((k-1) / kth-smallest-fraction,
    * [[kmvDistinctEstimate]]). Registers are `(group..., kmv_key,
    * kmv_id)` rows, at most k per group; merge = bag union + re-take-k
    * ([[kmvMerge]] — bottomK(A ∪ B) == bottomK(bottomK(A) ∪
    * bottomK(B)), spec-pinned), so per-shard / per-day sketches roll up
    * without revisiting raw ids.
    *
    * Scale shape: ONE hash aggregate whose per-group state is bounded at
    * k BY CONSTRUCTION ([[graft.plans.BottomKPairs]], a capped ordered
    * map): map-side partials insert-with-eviction row by row, shuffle k
    * entries per (group, mapper), and merge under the same cap — O(k)
    * memory per group at every stage, independent of partition-local
    * distinct-id counts (the former collect_set partial paid an
    * O(partition distinct) array on a skewed single-group partition
    * before its k-cut — VERDICT r13 item 4). No raw-row global window
    * (the Ranking.valueRanks discipline); output spec-pinned to the
    * ordered-window replay the oracles use.
    */
  def kmvRegisters(df: DataFrame, groupCols: Seq[String], idCol: Column,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 65536, s"k: $k")
    val gcols = groupCols.map(col)
    df.select(gcols :+ kmvKey(idCol).as("kmv_key") :+
        idCol.cast("string").as("kmv_id"): _*)
      .filter(col("kmv_id").isNotNull)
      .groupBy(gcols: _*)
      .agg(bottomKPairs(col("kmv_key"), col("kmv_id"), lit(1L), k).as("__bk"))
      .select(gcols :+ explode(col("__bk")).as("__e"): _*)
      .select(gcols :+ col("__e.kmv_key").as("kmv_key") :+
        col("__e.kmv_id").as("kmv_id"): _*)
  }

  /** [[graft.plans.BottomKPairs]] as a Column aggregate. */
  private def bottomKPairs(key: Column, id: Column, w: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.plans.BottomKPairs(
      GraftSqlBridge.expression(key), GraftSqlBridge.expression(id),
      GraftSqlBridge.expression(w), k).toAggregateExpression())
  }

  /** The KMV merge law: re-take the k smallest DISTINCT keys per group
    * from a bag union of register tables (shards, days, partial builds).
    * Idempotent; associative; commutative — the properties that make the
    * sample/estimator maintainable incrementally.
    */
  def kmvMerge(regs: DataFrame, groupCols: Seq[String], k: Int): DataFrame =
    kmvTake(regs, groupCols, k)

  private def kmvTake(regs: DataFrame, groupCols: Seq[String], k: Int,
      carry: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gcols = groupCols.map(col)
    val w = Window.partitionBy(gcols: _*)
      .orderBy(col("kmv_key").asc, col("kmv_id").asc)
    regs.select(gcols ++ Seq(col("kmv_key"), col("kmv_id")) ++
        carry.map(col): _*).distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** WEIGHTED mergeable bottom-k sample — the register-table form of
    * proportional-to-weight corpus sampling (VERDICT r13 item 2; exact
    * priority sampling q169/q175 has no mergeable state): an id of
    * INTEGER weight `w` contributes `w` deterministic sub-keys
    * `md5(id || '#' || j)`, `j < w`, and the registers are the uniform
    * bottom-k over the weight-replicated multiset — so every uniform-KMV
    * law carries over VERBATIM: P(id owns the smallest key) = w / sum(w)
    * exactly, merge is bag-union + re-take-k (associative / commutative /
    * idempotent, [[kmvWeightedMerge]]), and [[kmvDistinctEstimate]] over
    * these registers estimates the TOTAL WEIGHT of the distinct-id set
    * (each distinct id owns exactly `w` distinct sub-items) — the
    * mixture-mass estimator beside the sample.
    *
    * Exact integer form by construction: no u^(1/w) floats anywhere —
    * the float order statistic needs pow/ln, which are not correctly
    * rounded across engines (the qsCompress determinism argument), where
    * the replicated-multiset draw is pure md5 + string order, replayed
    * digit-for-digit by the DuckDB oracle. The trade is O(w) hashes per
    * row, so weights must be SMALL integers: quantize mixture weights to
    * a coarse integer scale first (`maxWeight` caps the blowup and
    * raises in-plan on violation). Weight must be a STABLE function of
    * the id (same id, same weight across shards/days) — that is what
    * makes the merge idempotent; registers carry `kmv_w` so consumers
    * read each sampled id's weight without rejoining the corpus.
    *
    * Same O(k)-bounded single-aggregate scale shape as [[kmvRegisters]]
    * (the explode multiplies rows by w BEFORE the aggregate, inside one
    * stage — nothing wider than k ever shuffles).
    */
  def kmvWeightedRegisters(df: DataFrame, groupCols: Seq[String],
      idCol: Column, wCol: Column, k: Int, maxWeight: Int = 4096): DataFrame = {
    require(k >= 1 && k <= 65536, s"k: $k")
    require(maxWeight >= 1 && maxWeight <= 65536, s"maxWeight: $maxWeight")
    val gcols = groupCols.map(col)
    df.select(gcols :+ idCol.cast("string").as("kmv_id") :+
        wCol.cast("long").as("kmv_w"): _*)
      .filter(col("kmv_id").isNotNull && col("kmv_w").isNotNull)
      .withColumn("kmv_w",
        when(col("kmv_w") < 1L || col("kmv_w") > maxWeight.toLong,
          raise_error(concat(
            lit(s"kmvWeightedRegisters weight out of [1, $maxWeight]: "),
            col("kmv_w").cast("string"))).cast("long"))
          .otherwise(col("kmv_w")))
      .withColumn("__j", explode(sequence(lit(0L), col("kmv_w") - 1L)))
      .withColumn("kmv_key",
        md5(concat(col("kmv_id"), lit("#"), col("__j").cast("string"))))
      .groupBy(gcols: _*)
      .agg(bottomKPairs(col("kmv_key"), col("kmv_id"), col("kmv_w"), k)
        .as("__bk"))
      .select(gcols :+ explode(col("__bk")).as("__e"): _*)
      .select(gcols :+ col("__e.kmv_key").as("kmv_key") :+
        col("__e.kmv_id").as("kmv_id") :+ col("__e.kmv_w").as("kmv_w"): _*)
  }

  /** The weighted merge law — identical to [[kmvMerge]] with the weight
    * carried: re-take the k smallest distinct (key, id) pairs from a bag
    * union of weighted register tables. Associative, commutative,
    * idempotent under the stable-weight contract (equal pairs carry
    * equal weights by construction, so the distinct() can never fork).
    */
  def kmvWeightedMerge(regs: DataFrame, groupCols: Seq[String],
      k: Int): DataFrame =
    kmvTake(regs, groupCols, k, carry = Seq("kmv_w"))

  /** Distinct-count estimate from a KMV register table: with fewer than k
    * registers the group's ids were seen EXHAUSTIVELY (every distinct id
    * keeps its key) and the count is exact; otherwise the Beyer et al.
    * unbiased form `(k-1) / U(k)` with `U(k)` = the kth-smallest key's
    * fraction of the hash space, computed in exact integers:
    * `est = (k-1) * 16^15 div kth_num`, `kth_num` = the first 15 hex
    * digits of the kth key (60 bits — exact in BIGINT on every engine;
    * the truncation to 15 digits biases U by < 2^-60, far below the
    * 1/sqrt(k-2) sampling error). One row per group: `n_regs, kth_num,
    * est_distinct`.
    */
  /** Jaccard similarity of two id sets from their KMV registers (the set
    * operations of Beyer et al. 2007): the k smallest keys of the UNION
    * are computable from the two register tables alone (bottom-k of a
    * bag union — the merge law), and within that uniform union sample
    * the fraction of keys present in BOTH sketches estimates
    * |A ∩ B| / |A ∪ B|. Exact integers end to end: `j_ppm = n_overlap *
    * 1e6 div n_union` with `n_union <= k`. When BOTH sides are
    * exhaustive (fewer than k registers — every distinct id kept) the
    * union sample IS the union and the Jaccard is exact, not an
    * estimate. One row: `n_union, n_overlap, j_ppm`.
    */
  def kmvJaccard(regsA: DataFrame, regsB: DataFrame, k: Int): DataFrame = {
    val u = kmvTake(regsA.select(col("kmv_key"), col("kmv_id"))
      .unionByName(regsB.select(col("kmv_key"), col("kmv_id"))), Nil, k)
      .pinLazy() // feeds both membership joins and the count
    val inBoth = u
      .join(regsA.select(col("kmv_key")).distinct(), Seq("kmv_key"), "left_semi")
      .join(regsB.select(col("kmv_key")).distinct(), Seq("kmv_key"), "left_semi")
    u.agg(count(lit(1)).as("n_union"))
      .crossJoin(inBoth.agg(count(lit(1)).as("n_overlap")))
      .withColumn("j_ppm", when(col("n_union") > 0L, call_function("div",
        col("n_overlap").cast("decimal(38,0)") * lit(1000000L),
        col("n_union").cast("decimal(38,0)")).cast("long")))
  }

  /** ALL-PAIRS Jaccard from one grouped register table — the overlap
    * MATRIX between N audiences/slices computed entirely at register
    * grain: each unordered group pair gets the k smallest keys of its
    * two sketches' union (the [[kmvJaccard]] law) in ONE job — the
    * per-pair work is shared through a (pair, key, side-membership)
    * rollup of at most G*(G-1)*k rows, so N raw sets never shuffle and
    * the cost is independent of what the sketches summarize. Pairs of
    * exhaustive sketches read exact. One row per pair `(g1 < g2)`:
    * `g1, g2, n_union, n_overlap, j_ppm`.
    */
  def kmvJaccardMatrix(regs: DataFrame, groupCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = regs.select(col(groupCol).as("__g"), col("kmv_key")).distinct()
      .pinLazy() // feeds the pair enumeration and both sides
    val gs = keys.select(col("__g")).distinct()
    val pairs = gs.select(col("__g").as("g1"))
      .crossJoin(gs.select(col("__g").as("g2")))
      .filter(col("g1") < col("g2"))
    def side(gcol: String, in1: Int, in2: Int) = pairs
      .join(keys, keys("__g") === pairs(gcol))
      .select(col("g1"), col("g2"), col("kmv_key"),
        lit(in1).as("in1"), lit(in2).as("in2"))
    val u = side("g1", 1, 0).unionByName(side("g2", 0, 1))
      .groupBy(col("g1"), col("g2"), col("kmv_key"))
      .agg(max(col("in1")).as("in1"), max(col("in2")).as("in2"))
    val w = Window.partitionBy(col("g1"), col("g2")).orderBy(col("kmv_key").asc)
    u.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("n_union"),
        sum(col("in1") * col("in2")).cast("long").as("n_overlap"))
      .withColumn("j_ppm", call_function("div",
        col("n_overlap").cast("decimal(38,0)") * lit(1000000L),
        col("n_union").cast("decimal(38,0)")).cast("long"))
  }

  def kmvDistinctEstimate(regs: DataFrame, groupCols: Seq[String],
      k: Int): DataFrame = {
    val gcols = groupCols.map(col)
    regs.groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_regs"), max(col("kmv_key")).as("__kth"))
      .withColumn("kth_num",
        conv(substring(col("__kth"), 1, 15), 16, 10).cast("long"))
      .withColumn("est_distinct",
        when(col("n_regs") < k, col("n_regs"))
          .when(col("kth_num") > 0L, call_function("div",
            lit(k - 1L).cast("decimal(38,0)") *
              lit(1152921504606846976L).cast("decimal(38,0)"),
            col("kth_num").cast("decimal(38,0)")).cast("long")))
      .drop("__kth")
  }

  /** Misra-Gries frequency registers (Misra & Gries 1982; merge rule and
    * mergeability theorem from Agarwal et al., "Mergeable Summaries",
    * PODS 2012) — the HEAVY-HITTER member completing the mergeable
    * register family (HLL = distinct, Count-Min = point frequency,
    * qsRegisters = quantiles, KMV = uniform sample; this = top-k
    * frequent items): at most k `(group..., mg_value, mg_count)` rows
    * per group, where every stored count is a LOWER bound on the true
    * count and the deviation is SELF-CERTIFYING from the summary plus
    * the window's total row count alone:
    *   `true - (n_total - stored_mass) div (k+1) <= mg_count <= true`
    * (Berinde et al. 2010's residual-error form; [[mgBound]] reads it).
    * No error column is stored — the bound above survives ANY merge
    * tree (the Agarwal et al. theorem), so per-day summaries in the
    * period layout roll up by [[mgCompress]] over a bag union exactly
    * like the quantile and KMV families. Deterministic by construction:
    * the build aggregates EXACT per-(group, value) counts first (the
    * qsRegisters value-grain discipline — one hash aggregate, map-side
    * partials), and the compression cut is a count ORDER STATISTIC
    * (the (k+1)-th largest), so oracles replay it digit for digit; no
    * arrival-order dependence anywhere. Merge is commutative (bag union
    * + a deterministic cut) and GUARANTEE-preserving under any merge
    * tree (the mergeability theorem) — though merged counter VALUES
    * depend on the tree, the envelope above always reads true — and
    * NOT idempotent (counts sum — the aggStream sum-combiner caveat,
    * unlike KMV's re-take-k).
    *
    * The register-table form of [[graft.operators.HeavyHitters]]'s
    * per-partition prefilter: that one answers "exact frequent items
    * NOW" with a driver merge; this one is STORED, grouped, and
    * mergeable across days/shards with no driver state.
    */
  def mgRegisters(df: DataFrame, groupCols: Seq[String], v: Column,
      k: Int): DataFrame =
    mgCompress(
      df.filter(v.isNotNull)
        .groupBy(groupCols.map(col) :+ v.cast("string").as("mg_value"): _*)
        .agg(count(lit(1)).as("mg_count")),
      groupCols, k)

  /** Compress a (bag of) MG register tables to at most k rows per group
    * — the build's second stage AND the merge (a bag union of summaries
    * compresses in the same call, the qsCompress convention): sum
    * counts per (group, value), then subtract the (k+1)-th largest
    * count from every counter and keep the strictly-positive survivors.
    * Each compress level removes mass >= (k+1) * cut (the k+1 largest
    * counters each shed >= cut), which is what keeps the
    * [[mgRegisters]] bound reading from the final summary alone.
    * Zero-count rows drop (no information); negative counts raise —
    * they would corrupt the order-statistic cut silently.
    *
    * Scale shape: NO window over the value domain (a billion-key token
    * vocabulary would single-partition a per-group rank window). The
    * (k+1)-th largest count rides the bounded [[graft.plans.BottomKPairs]]
    * aggregate — counts encode order-reversed as fixed-width decimal
    * strings (`Long.MaxValue - count`, zero-padded: lexicographic ==
    * numeric for non-negative longs), so the bottom-(k+1) pairs ARE the
    * top-(k+1) counts and the cut is the last entry's payload — then one
    * broadcast join + filter keeps the survivors. O(k) state per group
    * at every stage; ties at the cut boundary are immaterial (the order
    * statistic's VALUE is tie-invariant).
    */
  def mgCompress(regs: DataFrame, groupCols: Seq[String], k: Int): DataFrame = {
    require(k >= 1 && k <= 65536, s"k: $k")
    val gcols = groupCols.map(col)
    def sums = regs
      .groupBy(gcols :+ col("mg_value"): _*)
      .agg(sum(col("mg_count")).cast("long").as("mg_count"))
      .filter(col("mg_count") =!= 0L)
      .withColumn("mg_count",
        when(col("mg_count") < 0L, raise_error(concat(
          lit("mgCompress: negative count for "), col("mg_value"))).cast("long"))
          .otherwise(col("mg_count")))
    val negKey = format_string("%019d",
      lit(Long.MaxValue) - col("mg_count"))
    val cuts = sums
      .groupBy(gcols: _*)
      .agg(bottomKPairs(negKey, col("mg_value"), col("mg_count"), k + 1)
        .as("__top"))
      .select(gcols :+
        when(size(col("__top")) === k + 1,
          element_at(col("__top"), k + 1).getField("kmv_w"))
          .otherwise(lit(0L)).as("__cut"): _*)
    val joined = if (groupCols.isEmpty) sums.crossJoin(broadcast(cuts))
      else sums.join(broadcast(cuts), groupCols)
    joined
      .filter(col("mg_count") > col("__cut"))
      .select(gcols :+ col("mg_value") :+
        (col("mg_count") - col("__cut")).as("mg_count"): _*)
  }

  /** The self-certifying MG error bound, per group: `totals` carries
    * `(group..., n_total)` — the window's TRUE row count (a plain count
    * the caller always has; the period layout stores it as one more
    * register table) — and the result adds `stored_mass` (sum of the
    * summary's counters) and `err_bound = (n_total - stored_mass) div
    * (k+1)`. Every true count is within [mg_count, mg_count +
    * err_bound] for stored values and <= err_bound for absent ones —
    * so the summary's values are a SUPERSET of every item with true
    * count > err_bound (no false negatives, the HeavyHitters contract
    * at register grain).
    */
  def mgBound(regs: DataFrame, groupCols: Seq[String], totals: DataFrame,
      k: Int): DataFrame = {
    val gcols = groupCols.map(col)
    val stored =
      if (groupCols.isEmpty)
        regs.agg(coalesce(sum(col("mg_count")), lit(0L)).cast("long")
          .as("stored_mass"))
      else regs.groupBy(gcols: _*)
        .agg(sum(col("mg_count")).cast("long").as("stored_mass"))
    val j = if (groupCols.isEmpty) totals.crossJoin(stored)
      else totals.join(stored, groupCols, "left")
    j.withColumn("stored_mass", coalesce(col("stored_mass"), lit(0L)))
      .withColumn("err_bound", call_function("div",
        col("n_total") - col("stored_mass"), lit(k + 1L)))
  }

  /** Full SET-OPERATION estimates from two KMV register tables — the
    * theta-sketch a-not-b / intersection face of the family (Dasgupta et
    * al. 2016's theta composition over Beyer et al. 2007's bottom-k;
    * [[kmvJaccard]] reads only the ratio, this reads the CARDINALITIES):
    * the k smallest keys of the union are computable from the two
    * register tables alone (the merge law), membership of each union-
    * sample key per side is decidable from the registers alone (a key of
    * A inside the union bottom-k is necessarily inside A's own bottom-k
    * — anything A evicted has k smaller A-keys also in the union), and
    * the union sample is uniform over A ∪ B — so the sample fractions of
    * [both | only-A | only-B] scale the union estimate into
    * `est_both / est_only_a / est_only_b`, and the A-member subsample is
    * uniform over A alone, giving the containment `|A∩B| div |A|` as
    * `cont_a_ppm = n_both*1e6 div n_a_regs` (the dedup-vs-benchmark
    * decontamination question "how much of A is inside B" — directional,
    * where Jaccard is symmetric). Exact integers end to end: the union
    * estimate is the [[kmvDistinctEstimate]] `(k-1)/U(k)` form, scaled
    * counts are `cnt * est_union div n_union`. When the union sample
    * holds fewer than k keys BOTH sides were exhaustive and every output
    * is exact (est_* == the sample counts). One row: `n_union, n_both,
    * n_only_a, n_only_b, n_a_regs, n_b_regs, kth_num, est_union,
    * est_both, est_only_a, est_only_b, cont_a_ppm, cont_b_ppm`.
    *
    * Scale shape: register-grain only — two ≤k-row inputs, one global
    * bottom-k window over ≤2k rows, no raw sets touched; composes with
    * [[kmvMerge]] so the per-day / per-shard registers answer any
    * pairwise set-op question after the fact.
    */
  def kmvSetOps(regsA: DataFrame, regsB: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val tagged = regsA.select(col("kmv_key"), lit(1L).as("in_a"), lit(0L).as("in_b"))
      .unionByName(
        regsB.select(col("kmv_key"), lit(0L).as("in_a"), lit(1L).as("in_b")))
      .groupBy(col("kmv_key"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val w = Window.orderBy(col("kmv_key").asc)
    val u = tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
    // the degenerate kth_num == 0 branch (15 leading zero hex digits in
    // the kth key — possible only under adversarial inputs, never under
    // md5 uniformity at any practical k) propagates the RAW sample
    // counts instead of emitting NULL estimates (ADVICE r14)
    def scaled(cnt: Column) =
      when(col("n_union") < k, cnt)
        .when(col("kth_num") > 0L, call_function("div",
          dec(cnt) * dec(col("est_union")), dec(col("n_union"))).cast("long"))
        .otherwise(cnt)
    u.agg(
        count(lit(1)).as("n_union"),
        max(col("kmv_key")).as("__kth"),
        sum(col("in_a") * col("in_b")).cast("long").as("n_both"),
        sum(col("in_a") * (lit(1L) - col("in_b"))).cast("long").as("n_only_a"),
        sum((lit(1L) - col("in_a")) * col("in_b")).cast("long").as("n_only_b"),
        sum(col("in_a")).cast("long").as("n_a_regs"),
        sum(col("in_b")).cast("long").as("n_b_regs"))
      .withColumn("kth_num",
        conv(substring(col("__kth"), 1, 15), 16, 10).cast("long"))
      .withColumn("est_union",
        when(col("n_union") < k, col("n_union"))
          .when(col("kth_num") > 0L, call_function("div",
            lit(k - 1L).cast("decimal(38,0)") *
              lit(1152921504606846976L).cast("decimal(38,0)"),
            dec(col("kth_num"))).cast("long"))
          .otherwise(col("n_union")))
      .withColumn("est_both", scaled(col("n_both")))
      .withColumn("est_only_a", scaled(col("n_only_a")))
      .withColumn("est_only_b", scaled(col("n_only_b")))
      .withColumn("cont_a_ppm", when(col("n_a_regs") > 0L,
        call_function("div", dec(col("n_both")) * lit(1000000L),
          dec(col("n_a_regs"))).cast("long")))
      .withColumn("cont_b_ppm", when(col("n_b_regs") > 0L,
        call_function("div", dec(col("n_both")) * lit(1000000L),
          dec(col("n_b_regs"))).cast("long")))
      .drop("__kth")
  }

  /** Deterministic uniform sample WITH PAYLOAD — the stored-sample half
    * of approximate query processing (AQP; Hellerstein et al.'s online
    * aggregation and BlinkDB's stored-sample serving are the public
    * designs; here the sample is the engine's md5-bottom-k idiom so the
    * oracle replays it digit-for-digit): the k rows whose `md5(id)` is
    * smallest, carrying EVERY column of `df`, plus `aqp_n` (the exact
    * base count the estimator scales by) and `aqp_k` (the realized
    * sample size, < k when the base is smaller). Under the random-oracle
    * reading of md5 this is a simple random sample of the id-distinct
    * rows; its load-bearing property is CLOSURE UNDER SELECTION — any
    * later predicate applied to the sample rows yields a uniform sample
    * of the predicate's rows, so ONE stored table answers post-hoc
    * questions nobody declared at build time (the opposite trade to the
    * rollup sidecars, which answer only declared dims but exactly).
    * Plan shape: `orderBy(md5).limit(k)` is Spark's distributed
    * TakeOrderedAndProject — per-partition top-k then a k-row merge,
    * never a global sort — and the count rides one crossJoined 1-row
    * aggregate. Estimator contract (integer form, oracle-replayable):
    * `sum_est = aqp_n * sum(sample v where pred) div aqp_k`.
    * `idCol` must be row-distinct (the sampling unit).
    */
  def uniformSampleTable(df: DataFrame, idCol: Column, k: Int): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val n1 = df.agg(count(lit(1)).cast("long").as("aqp_n"))
    df.withColumn("aqp_key", md5(idCol.cast("string")))
      .orderBy(col("aqp_key")).limit(k)
      .crossJoin(broadcast(n1))
      .withColumn("aqp_k", least(lit(k.toLong), col("aqp_n")))
  }

  /** O(batch + k) maintenance of a stored uniform sample — the KMV
    * mergeability law applied to samples-with-payload: because the
    * stored sample holds ALL rows whose key is at or below its k-th
    * smallest, bottom-k(base ∪ batch) = bottom-k(stored-sample ∪
    * batch) — every base row the stored sample dropped has a key above
    * the stored k-th, hence above the merged k-th. So an append-only
    * corpus keeps its sample current WITHOUT EVER RE-SCANNING the base:
    * the merge reads k stored rows plus the batch, and the result is
    * byte-identical to a full rebuild over base ∪ batch (same keys,
    * same order, same count — deterministic, which is what lets an
    * oracle replay the incremental path against the full recompute).
    * Caller contract: `batch` rows are NEW (ids disjoint from the
    * sampled base), the append sink's own contract.
    */
  def uniformSampleMerge(stored: DataFrame, batch: DataFrame,
      idCol: Column, k: Int): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val total = stored
      .agg(first(col("aqp_n")).as("__n_old"))
      .crossJoin(broadcast(batch.agg(count(lit(1)).cast("long").as("__n_new"))))
      .select((coalesce(col("__n_old"), lit(0L)) + col("__n_new"))
        .as("aqp_n"))
    stored.drop("aqp_n", "aqp_k")
      .unionByName(batch.withColumn("aqp_key", md5(idCol.cast("string"))))
      .orderBy(col("aqp_key")).limit(k)
      .crossJoin(broadcast(total))
      .withColumn("aqp_k", least(lit(k.toLong), col("aqp_n")))
  }

  /** STRATIFIED stored sample — bottom-k per stratum (BlinkDB's central
    * observation in the engine's md5-bottom-k idiom: a single uniform
    * sample starves rare groups — a 5%-of-corpus language gets ~5% of the
    * k budget — while per-stratum bottom-k gives EVERY declared group its
    * own k rows and its own exact `aqp_n`, so per-group estimates carry
    * per-group error instead of inheriting the group's corpus share).
    * Closure under selection holds WITHIN each stratum, so post-hoc
    * predicates still work per group.
    *
    * 100 TB plan shape: the per-stratum top-k rides
    * [[graft.plans.BottomKPairs]] — map-side partial registers bounded at
    * O(k) per (task, stratum), a strata-grain shuffle of registers (never
    * of rows), and the same one-pass aggregate carries the exact
    * per-stratum counts; payloads come back via one id-join against the
    * strata×k picked ids (broadcastable). A window `row_number` over the
    * raw table would instead shuffle EVERY row by stratum — the shape
    * this function exists to avoid. `idCol` must be row-distinct.
    */
  def stratifiedSampleTable(df: DataFrame, idCol: Column,
      strata: Seq[String], k: Int): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    require(strata.nonEmpty, "stratifiedSampleTable: empty strata — use uniformSampleTable")
    val gcols = strata.map(col)
    val keyed = df.withColumn("aqp_id", idCol.cast("string"))
    val regs = keyed
      .groupBy(gcols: _*)
      .agg(count(lit(1)).cast("long").as("aqp_n"),
        bottomKPairs(md5(col("aqp_id")), col("aqp_id"), lit(1L), k).as("__bk"))
    val picked = regs
      .select(gcols :+ col("aqp_n") :+ explode(col("__bk")).as("__e"): _*)
      .select(gcols :+ col("aqp_n") :+ col("__e.kmv_key").as("aqp_key") :+
        col("__e.kmv_id").as("aqp_id"): _*)
    keyed.join(broadcast(picked), strata :+ "aqp_id")
      .withColumn("aqp_k", least(lit(k.toLong), col("aqp_n")))
  }

  /** O(batch + strata·k) maintenance of a stored stratified sample — the
    * [[uniformSampleMerge]] law applied independently per stratum (the
    * stored rows of stratum g are ALL rows at or below g's k-th key, so
    * bottom-k(g's base ∪ g's batch) = bottom-k(g's stored ∪ g's batch)
    * byte-identically), with per-stratum counts combined by a full outer
    * join — a batch may open a NEW stratum (no stored rows: its sample is
    * the batch's own bottom-k) or skip a stored one (counts carry
    * unchanged). Merge == rebuild per stratum, so the incremental path is
    * oracle-replayable. Caller contract: batch ids are NEW.
    */
  def stratifiedSampleMerge(stored: DataFrame, batch: DataFrame,
      idCol: Column, strata: Seq[String], k: Int): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    require(strata.nonEmpty, "stratifiedSampleMerge: empty strata — use uniformSampleMerge")
    val gcols = strata.map(col)
    val nOld = stored.groupBy(gcols: _*)
      .agg(first(col("aqp_n")).as("__n_old"))
    val nNew = batch.groupBy(gcols: _*)
      .agg(count(lit(1)).cast("long").as("__n_new"))
    val totals = nOld.join(nNew, strata, "full")
      .select(gcols :+ (coalesce(col("__n_old"), lit(0L)) +
        coalesce(col("__n_new"), lit(0L))).as("aqp_n"): _*)
    // the union is strata·k + batch rows — register grain, so the
    // re-rank window here is cheap by construction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gcols: _*).orderBy(col("aqp_key"))
    stored.drop("aqp_n", "aqp_k")
      .unionByName(batch
        .withColumn("aqp_id", idCol.cast("string"))
        .withColumn("aqp_key", md5(col("aqp_id"))))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
      .join(broadcast(totals), strata)
      .withColumn("aqp_k", least(lit(k.toLong), col("aqp_n")))
  }
}
