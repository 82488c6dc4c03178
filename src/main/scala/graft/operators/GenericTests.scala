package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Pin.PinOps

/** dbt's generic declarative tests as engine operators
  * (dbt-adapters/macros/generic_test_sql/{unique,not_null,accepted_values,
  * relationships}.sql) plus the threshold harness
  * (materializations/tests/helpers.sql:7-16) and the optional `where` wrapper
  * (where_subquery.sql:6-16).
  *
  * Each test returns the FAILING rows (empty == pass), mirroring the
  * reference: the test materialization counts rows of the rendered query.
  */
object GenericTests {

  sealed trait Severity
  case object Pass extends Severity
  case object Warn extends Severity
  case object Error extends Severity

  final case class TestResult(name: String, failures: Long, severity: Severity)

  private def applyWhere(df: DataFrame, where: Option[String]): DataFrame =
    where.fold(df)(w => df.filter(expr(w)))

  /** unique.sql:3-10 — values with count(*) > 1. */
  def unique(df: DataFrame, column: String, where: Option[String] = None): DataFrame =
    applyWhere(df, where)
      .filter(col(column).isNotNull)
      .groupBy(col(column).as("unique_field"))
      .agg(count(lit(1)).as("n_records"))
      .filter(col("n_records") > 1)

  /** not_null.sql — rows with a NULL in the column. */
  def notNull(df: DataFrame, column: String, where: Option[String] = None): DataFrame =
    applyWhere(df, where).filter(col(column).isNull)

  /** accepted_values.sql:4-26 — grouped values outside the accepted set. */
  def acceptedValues(df: DataFrame, column: String, values: Seq[Any],
      where: Option[String] = None): DataFrame =
    applyWhere(df, where)
      .groupBy(col(column).as("value_field"))
      .agg(count(lit(1)).as("n_records"))
      .filter(!col("value_field").isin(values: _*))

  /** relationships.sql:14-21 — child keys with no parent (left-anti; J5).
    * Parent side is distinct-projected first so Catalyst can broadcast it
    * when small.
    */
  def relationships(child: DataFrame, childCol: String,
      parent: DataFrame, parentCol: String, where: Option[String] = None): DataFrame = {
    val parents = parent.select(col(parentCol).as(childCol)).distinct()
    applyWhere(child, where)
      .filter(col(childCol).isNotNull)
      .select(col(childCol).as("from_field"))
      .join(parents.withColumnRenamed(childCol, "from_field"), Seq("from_field"), "left_anti")
  }

  /** tests/helpers.sql:7-16 — fail_calc + warn_if/error_if thresholds.
    * `failCalc` is a SQL aggregate over the failing rows (default count(*)).
    */
  def evaluate(name: String, failing: DataFrame,
      failCalc: String = "count(*)",
      warnIf: Long => Boolean = _ > 0,
      errorIf: Long => Boolean = _ > 0,
      limit: Option[Int] = None): TestResult = {
    val limited = limit.fold(failing)(failing.limit)
    // NULL fail_calc over zero failing rows (e.g. sum on an empty set) counts
    // as 0 failures, matching the reference harness
    val n = limited.agg(coalesce(expr(failCalc).cast("long"), lit(0L)))
      .collect()(0).getLong(0)
    val sev = if (errorIf(n)) Error else if (warnIf(n)) Warn else Pass
    TestResult(name, n, sev)
  }

  /** dbt_utils.union_relations (the reference pins dbt_utils in
    * packages.yml): align relations BY NAME into the column superset,
    * null-backfilling what each side lacks, tagged with its source relation.
    */
  def unionRelations(relations: Seq[(String, DataFrame)],
      sourceCol: String = "_dbt_source_relation"): DataFrame = {
    require(relations.nonEmpty, "union_relations: no relations given")
    relations.map { case (name, df) =>
      df.withColumn(sourceCol, lit(name))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** dbt_utils.deduplicate: keep the LATEST row per key by an order column
    * (ties broken by the tie column for determinism). The rank filter
    * compiles to WindowGroupLimit — map-side pruned before the shuffle.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], orderBy: Column,
      tieBreak: Column): DataFrame = {
    require(!df.columns.contains("__rn"),
      "latestPerKey: input already carries the internal column __rn")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(orderBy.desc, tieBreak.desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** dbt source freshness (dbt-adapters/macros/adapters/freshness.sql:7-18 +
    * core threshold evaluation): collect max(loaded_at) and the snapshot
    * time, grade the age against warn_after/error_after. `snapshottedAt` is
    * INJECTED (the reference's current_timestamp()), never wall-clock; a
    * NULL max (empty source) grades error, matching dbt's runtime failure.
    */
  def sourceFreshness(df: DataFrame, loadedAtCol: String,
      snapshottedAt: java.sql.Timestamp, warnAfterSec: Long, errorAfterSec: Long,
      where: Option[String] = None): DataFrame =
    applyWhere(df, where)
      .agg(max(col(loadedAtCol)).as("max_loaded_at"))
      .select(col("max_loaded_at"),
        lit(snapshottedAt).as("snapshotted_at"),
        (lit(snapshottedAt).cast("long") - col("max_loaded_at").cast("long")).as("age_sec"))
      .withColumn("freshness_status",
        when(col("age_sec").isNull || col("age_sec") > errorAfterSec, lit("error"))
          .when(col("age_sec") > warnAfterSec, lit("warn"))
          .otherwise(lit("pass")))

  /** Benford first-digit profile — the forensic DQ test for "does this
    * amount column look organically generated?" (fabricated or truncated
    * feeds flunk it). Emits per leading digit d in 1..9 the observed count,
    * observed frequency in ppm, and Benford's expected ppm
    * (floor(log10(1+1/d) * 1e6) — fixed public constants, so no engine's
    * libm is in the hash path).
    *
    * Exactness: the digit comes from the DECIMAL(18,2) cent count's string
    * form — never from float log arithmetic; frequencies are integer `div`
    * ppm. Shape: one narrow roll-up to <= 9 rows; the total rides a window
    * over those 9 rows. Non-positive amounts are excluded (Benford is
    * defined on positive magnitudes).
    */
  def benfordProfile(df: DataFrame, amount: Column): DataFrame = {
    val expected = Seq(301029L, 176091L, 124938L, 96910L, 79181L, 66946L,
      57991L, 51152L, 45757L)
    val expectedCol = expected.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (ppm, i)) =>
        when(col("digit") === (i + 1).toString, lit(ppm)).otherwise(acc)
    }
    val tw = org.apache.spark.sql.expressions.Window
      .orderBy(lit(1)).rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    df.select((amount.cast("decimal(18,2)") * 100).cast("decimal(20,0)")
        .cast("string").as("__cents"))
      .filter(!col("__cents").startsWith("-") && col("__cents") =!= "0")
      .select(substring(col("__cents"), 1, 1).as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__tot", sum(col("n")).over(tw))
      .select(col("digit"), col("n"),
        expr("(n * 1000000) div __tot").as("observed_ppm"),
        expectedCol.as("expected_ppm"))
  }

  /** Order-independent relation fingerprint: per group (or globally with
    * groupCols empty), the row count plus the XOR of a 60-bit md5 prefix
    * of each row's canonical rendering. Two relations holding the same
    * multiset of rows fingerprint identically on ANY engine and any
    * partitioning — the cheap "did this pipeline run change the output"
    * gate that [[compareRelations]]' full-outer join answers expensively
    * (fingerprint first; reconcile row-level only when fingerprints
    * differ). XOR makes the aggregate commutative/associative (map-side
    * combinable, one narrow shuffle per group) — but XOR alone is blind
    * to DUPLICATED rows cancelling pairwise, which is why n_rows is part
    * of the fingerprint and rendering includes every requested column.
    *
    * Canonical rendering: columns cast to string, NULL as chr(1) (a control byte
    * no real cast produces), '|'-joined — callers pass exactly-rendered
    * types (ints, strings, dates); float columns render engine-specifically
    * and belong in a quantized cast first. 60 bits (15 md5 hex digits)
    * keeps the value positive in every engine's signed BIGINT.
    */
  def relationFingerprint(df: DataFrame, cols: Seq[String],
      groupCols: Seq[String] = Nil): DataFrame = {
    require(cols.nonEmpty, "relationFingerprint needs columns")
    val rendered = cols.map(c => coalesce(col(c).cast("string"), lit("\u0001")))
      .reduce((a, b) => concat(a, lit("|"), b))
    val h = conv(substring(md5(rendered), 1, 15), 16, 10).cast("long")
    val base = df.withColumn("__h", h)
    val agg = Seq(count(lit(1)).as("n_rows"),
      call_function("bit_xor", col("__h")).as("fingerprint"))
    if (groupCols.isEmpty) base.agg(agg.head, agg.tail: _*)
    else base.groupBy(groupCols.map(col): _*).agg(agg.head, agg.tail: _*)
  }

  /** dbt audit-helper `compare_relations`: row-level reconciliation of two
    * relations sharing a schema — the migration/refactor gate ("prove the
    * rewritten model emits the same table"). Each key is classified
    * added (target only) / removed (source only) / modified / identical,
    * rolled up to counts. NULL-safe per-column compare (`<=>`), so a
    * NULL-vs-value drift counts as modified, NULL-vs-NULL as identical.
    *
    * Shape: one full-outer key join (the comparison's intrinsic shuffle);
    * non-key columns ride packed in a struct per side, and the narrow
    * status roll-up follows. No collect, no per-column join fan-out.
    */
  def compareRelations(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    val (j, nonKeys) = comparisonJoin(a, b, keys)
    val same = nonKeys.map(c => col("__a")(c) <=> col("__b")(c))
      .reduceOption(_ && _).getOrElse(lit(true))
    j.select(when(col("__a").isNull, "added")
        .when(col("__b").isNull, "removed")
        .when(same, "identical").otherwise("modified").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n_rows"))
  }

  /** dbt audit-helper `compare_all_columns`: for keys present on BOTH
    * sides, per-column match/mismatch counts — which columns the refactor
    * actually changed. Same single full-outer join as
    * [[compareRelations]]; the per-column fan-out is one explode of a
    * bounded (n_columns) array, not n_columns scans.
    */
  def compareColumns(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    val (j, nonKeys) = comparisonJoin(a, b, keys)
    require(nonKeys.nonEmpty, "compareColumns needs at least one non-key column")
    val flags = nonKeys.map(c => struct(lit(c).as("column_name"),
      (col("__a")(c) <=> col("__b")(c)).as("ok")))
    j.filter(col("__a").isNotNull && col("__b").isNotNull)
      .select(explode(array(flags: _*)).as("f"))
      .groupBy(col("f.column_name").as("column_name"))
      .agg(sum(when(col("f.ok"), 1L).otherwise(0L)).as("n_match"),
        sum(when(col("f.ok"), 0L).otherwise(1L)).as("n_mismatch"))
  }

  private def comparisonJoin(a: DataFrame, b: DataFrame,
      keys: Seq[String]): (DataFrame, Seq[String]) = {
    require(keys.nonEmpty, "comparison needs at least one key column")
    require(a.columns.toSeq == b.columns.toSeq,
      s"schemas must align: ${a.columns.toSeq} vs ${b.columns.toSeq}")
    val nonKeys = a.columns.toSeq.filterNot(keys.contains)
    // key-only relations still need a non-null presence marker per side
    val fields = if (nonKeys.isEmpty) Seq(lit(1).as("__present"))
      else nonKeys.map(col)
    def pack(df: DataFrame, as: String) = df.select(
      keys.map(col) :+ struct(fields: _*).as(as): _*)
    (pack(a, "__a").join(pack(b, "__b"), keys, "full_outer"), nonKeys)
  }

  /** `--store-failures` (tests/test.sql:1-65 store_failures path): persist
    * the failing rows of a test run into an audit table, tagged with the run
    * timestamp and test name, appended across runs.
    */
  def storeFailures(wh: graft.engine.Warehouse, testName: String,
      failing: DataFrame, runTs: java.sql.Timestamp): Unit = {
    val tagged = failing
      .withColumn("dq_test_name", lit(testName))
      .withColumn("dq_run_ts", lit(runTs))
    val target = s"dq_failures_$testName"
    if (wh.exists(target)) wh.append(target, tagged)
    else wh.writeSwap(target, tagged)
  }

  /** Categorical drift between two relation versions as total-variation
    * distance in EXACT ppm: `tvd = sum(|p_i - q_i|)/2` over the value
    * distributions, computed as
    * `sum(|n_a_i*N_b - n_b_i*N_a|) * 1e6 div (2*N_a*N_b)` — pure BIGINT,
    * so the drift monitor hash-compares (the PSI/KL alternatives need
    * logs and float summation order). One row per monitored column; a
    * value present on one side only contributes its full mass, which is
    * exactly TVD's treatment of novel categories.
    *
    * Shape: ONE melt scan per side — every monitored column's (value,
    * count) rollup comes out of a single posexploded pass (plan-audit
    * r12: the per-column loop re-scanned each raw side once per column
    * plus once per totals frame — 6 scans for 2 columns, now 2), keyed
    * (column, value), bounded by summed category cardinality. Per-column
    * totals are window sums over the joined rollup (every input row
    * lands in every column's rollup — the NULL value is its own
    * category — so sum(n) per column IS the side's row count; no
    * separate totals scan). BIGINT headroom: |n*N| <= N_a*N_b, so
    * N_a*N_b*1e6 must fit — fine below ~3e12 rows per side; beyond
    * that, move the scaling to DECIMAL.
    */
  def categoricalDrift(a: DataFrame, b: DataFrame,
      columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "categoricalDrift needs at least one column")
    def melt(df: DataFrame, as: String): DataFrame =
      df.select(explode(array(columns.map(c =>
        struct(lit(c).as("column_name"), col(c).cast("string").as("v"))): _*))
        .as("kv"))
        .groupBy(col("kv.column_name").as("column_name"), col("kv.v").as("v"))
        .agg(count(lit(1)).as(as))
    val byCol = org.apache.spark.sql.expressions.Window
      .partitionBy(col("column_name"))
    melt(a, "na").join(melt(b, "nb"), Seq("column_name", "v"), "full_outer")
      .withColumn("ta", sum(coalesce(col("na"), lit(0L))).over(byCol))
      .withColumn("tb", sum(coalesce(col("nb"), lit(0L))).over(byCol))
      .groupBy(col("column_name"))
      .agg(sum(abs(coalesce(col("na"), lit(0L)) * col("tb") -
        coalesce(col("nb"), lit(0L)) * col("ta"))).as("num"),
        max(col("ta")).as("ta"), max(col("tb")).as("tb"),
        count(lit(1)).as("n_values"))
      .select(col("column_name"), col("n_values"),
        expr("num * 1000000 div (2 * ta * tb)").as("tvd_ppm"))
  }

  /** Numeric drift as bucketed total-variation distance: the REFERENCE
    * side's exact rank-cut quantiles (default deciles) become shared
    * fences, both sides bucket by `1 + #{fences below}`, and the bucket
    * distributions compare exactly like [[categoricalDrift]] — all BIGINT
    * ppm, no logs, no float summation. Anchoring fences on the reference
    * is the monitoring convention (the question is "did production move
    * relative to baseline"), and means a drifted B lands mass in A's top
    * bucket rather than moving the fences (tied fences collapse buckets
    * for BOTH sides equally — degenerate reference distributions still
    * compare fairly). NULLs are excluded on both sides (quantiles carry
    * no NULL; a bucket for them belongs to [[categoricalDrift]] over an
    * is-null flag).
    *
    * Integral values only — quantize money/doubles to fixed-point first
    * (the cents recipe; the register rollup keys on the long value).
    *
    * Shape: ONE scan per side into a (value, count) register rollup
    * (value-domain bounded, pinned — plan-audit r12: the fence pass,
    * A's bucket pass and both totals each re-read raw A before, 5 scans
    * total, now 2); fences are the [[graft.functions.QuantileSketch]]
    * rank cut over A's registers (== exactQuantiles on exact registers,
    * spec-pinned), buckets and totals are register-weight sums — raw
    * rows never sort and never rescan.
    */
  def numericDrift(a: DataFrame, b: DataFrame, column: Column,
      name: String, qMilles: Seq[Int] = (100 to 900 by 100)): DataFrame = {
    import graft.functions.QuantileSketch
    // integral values only (ADVICE r12): the register rollup keys on
    // cast("long"), which would silently TRUNCATE doubles — same loud
    // guard as madOutliers; quantize money/doubles first (cents recipe)
    Seq(a, b).foreach { df =>
      val vType = df.select(column).schema.head.dataType
      require(Seq("byte", "short", "integer", "long").contains(vType.typeName),
        s"numericDrift requires an integral value column, got $vType — " +
          "quantize to fixed-point first (the cents recipe)")
    }
    val ra = QuantileSketch.qsRegisters(a.filter(column.isNotNull), Nil, column)
      .pinLazy() // feeds fences, A buckets, A totals
    val rb = QuantileSketch.qsRegisters(b.filter(column.isNotNull), Nil, column)
    val fences = QuantileSketch.qsQuantile(ra, Seq.empty, qMilles)
      .groupBy()
      .agg(max(when(col("q_mille") === qMilles.head, col("value"))).as("f0"),
        qMilles.tail.zipWithIndex.map { case (q, i) =>
          max(when(col("q_mille") === q, col("value"))).as(s"f${i + 1}")
        }: _*)
    def bucket(regs: DataFrame, as: String): DataFrame =
      regs.crossJoin(broadcast(fences))
        .select(qMilles.indices.map(i =>
          when(col("qs_value") > col(s"f$i"), 1).otherwise(0)).reduce(_ + _)
          .as("bkt"), col("qs_weight"))
        .groupBy(col("bkt")).agg(sum(col("qs_weight")).as(as))
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    bucket(ra, "na").join(bucket(rb, "nb"), Seq("bkt"), "full_outer")
      // totals from the bucket rollup itself (every non-null row lands
      // in exactly one bucket) — a bounded <= |qMilles|+1-row window
      .withColumn("ta", sum(coalesce(col("na"), lit(0L))).over(whole))
      .withColumn("tb", sum(coalesce(col("nb"), lit(0L))).over(whole))
      .agg(sum(abs(coalesce(col("na"), lit(0L)) * col("tb") -
        coalesce(col("nb"), lit(0L)) * col("ta"))).as("num"),
        max(col("ta")).as("ta"), max(col("tb")).as("tb"),
        count(lit(1)).as("n_buckets"))
      .select(lit(name).as("column_name"), col("n_buckets"),
        expr("num * 1000000 div (2 * ta * tb)").as("tvd_ppm"))
  }

  /** dbt_utils.accepted_range as a one-row report: rows of `column`
    * outside [minVal, maxVal] (inclusive bounds, the dbt_utils default;
    * NULLs never violate — dbt ranges test only present values). One
    * map-side-combined agg, no shuffle beyond the 1-row rollup.
    */
  def acceptedRange(df: DataFrame, column: Column, minVal: Long,
      maxVal: Long, name: String): DataFrame = {
    require(minVal <= maxVal, s"range: [$minVal, $maxVal]")
    df.agg(
      count(lit(1)).as("n_rows"),
      sum(when(column.isNotNull && (column < minVal || column > maxVal), 1L)
        .otherwise(0L)).as("n_violations"))
      .select(lit(name).as("check"), col("n_rows"),
        col("n_violations").as("metric"),
        (col("n_violations") === 0).as("pass"))
  }

  /** dbt_utils.not_null_proportion: non-null share of `column` in ppm
    * (integer div) graded against `atLeastPpm`.
    */
  def notNullProportion(df: DataFrame, column: Column, atLeastPpm: Long,
      name: String): DataFrame = {
    require(atLeastPpm >= 0 && atLeastPpm <= 1000000, s"ppm: $atLeastPpm")
    df.agg(count(lit(1)).as("n_rows"),
      sum(when(column.isNotNull, 1L).otherwise(0L)).as("n_present"))
      .select(lit(name).as("check"), col("n_rows"),
        expr("n_present * 1000000 div n_rows").as("metric"),
        (expr("n_present * 1000000 div n_rows") >= atLeastPpm).as("pass"))
  }

  /** dbt_utils.equal_rowcount / fewer_rows_than in one shape: compare two
    * relation counts under an operator (`"="` or `"<"`); metric is the
    * compared rowcount. Two 1-row aggs, a broadcast cross of scalars.
    */
  def rowcountCompare(a: DataFrame, b: DataFrame, op: String,
      name: String): DataFrame = {
    require(Seq("=", "<").contains(op), s"op must be = or <: $op")
    val ca = a.agg(count(lit(1)).as("n_rows"))
    val cb = b.agg(count(lit(1)).as("n_b"))
    ca.crossJoin(broadcast(cb))
      .select(lit(name).as("check"), col("n_rows"),
        col("n_b").as("metric"),
        (if (op == "=") col("n_rows") === col("n_b")
         else col("n_rows") < col("n_b")).as("pass"))
  }

  /** Embedding drift monitor — the vector-space sibling of
    * [[categoricalDrift]]/[[numericDrift]], closing the drift family for
    * the embedding columns a retrieval/dedup pipeline depends on: per
    * label, the cosine between the reference slice's and the live slice's
    * centroid direction. A re-run encoder, a silently updated model, or a
    * domain shift rotates centroids away from 1.0 long before top-k
    * metrics visibly degrade.
    *
    * Cosine of the component-SUM vectors (same direction as the mean,
    * division-free): quantized component sums accumulate exactly
    * ([[graft.pipeline.Clustering.labelCentroids]] rollups), the dot and
    * norms ride DECIMAL(38,0), and the one IEEE expression at the end
    * hash-compares. Labels present on only one side surface with NULL
    * cosine (novel/vanished label — the q228 novel-category contract).
    *
    * Shape: two (label, pos) rollups full-outer-joined on bounded
    * (label x dim) keys, then a per-label rollup — raw vectors shuffle
    * only for their own rollup.
    */
  def embeddingDrift(ref: DataFrame, live: DataFrame, labelCol: String,
      vecCol: String): DataFrame = {
    import graft.pipeline.Clustering
    def side(df: DataFrame) =
      Clustering.labelCentroids(df, labelCol, vecCol)
        .select(col("label"), col("pos"), col("sum_q"), col("n_vecs"))
    centroidCosFromRegisters(side(ref), side(live))
  }

  /** Per-label centroid-direction cosine from two STORED centroid-register
    * tables `(label, pos, sum_q, n_vecs)` (the
    * [[graft.pipeline.Clustering.labelCentroids]] relation) — the
    * embedding member of the stored-baseline monitor scorer family
    * ([[graft.pipeline.Inference.ksFromRegisters]] and siblings for
    * scalar distributions): a nightly run scores its slice's centroid
    * sums against a baseline's sums materialized ONCE, never rescanning
    * baseline vectors — cost is labels x dims, independent of
    * represented vector count. Exact integer dot/norms ride
    * decimal(38,0); ONE IEEE chain at the end (the [[embeddingDrift]]
    * chain — that operator now delegates here, the one-derivation rule).
    * A label present on only one side emits NULL cosine (the
    * novel/vanished-label contract); `n_ref`/`n_live` carry each side's
    * per-label vector counts for the paging threshold's n-dependence.
    */
  def centroidCosFromRegisters(ref: DataFrame, live: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    ref.select(col("label"), col("pos"), col("sum_q").as("s_ref"),
        col("n_vecs").as("n_ref"))
      .join(live.select(col("label"), col("pos"), col("sum_q").as("s_live"),
        col("n_vecs").as("n_live")), Seq("label", "pos"), "full_outer")
      .groupBy(col("label"))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_live")).as("n_live"),
        sum(dec(col("s_ref")) * dec(col("s_live"))).as("__dot"),
        sum(dec(col("s_ref")) * dec(col("s_ref"))).as("__nr"),
        sum(dec(col("s_live")) * dec(col("s_live"))).as("__nl"))
      .withColumn("centroid_cos",
        when(col("__nr") > 0 && col("__nl") > 0,
          col("__dot").cast("double") /
            (sqrt(col("__nr").cast("double")) * sqrt(col("__nl").cast("double")))))
      .drop("__dot", "__nr", "__nl")
  }

  /** k-anonymity audit over a quasi-identifier column set: every QI
    * combination observed fewer than `k` times re-identifies its members —
    * the privacy gate run before a mart with demographic columns leaves the
    * warehouse. One row per QI combination with its count and an `at_risk`
    * flag; downstream policy decides suppress/generalize.
    *
    * NULLs form their own combination (a NULL birth year still narrows a
    * person down). Shape: ONE partial-agg shuffle keyed on the QI tuple —
    * the audit costs the same as the groupBy it wraps at any scale.
    */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], k: Long): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymity needs at least one QI column")
    require(k >= 2, s"k must be >= 2: $k")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .withColumn("at_risk", col("group_size") < k)
  }

  /** t-closeness audit — the third rung of the privacy ladder
    * ([[kAnonymity]] -> [[lDiversity]] -> this): a quasi-identifier group
    * leaks when its SENSITIVE-attribute distribution sits far from the
    * global one, even if it is large and diverse (skew attack: the group
    * has all l values but 95% of one). Distance is the ordered-attribute
    * Earth Mover's Distance of Li et al. 2007:
    * `EMD = sum_i |cumsum_i(p_group - p_global)| / (m - 1)` over the m
    * globally-observed sensitive values in order. Exact integer
    * arithmetic: the inner cumulative is `|cum_g * N - cum_all * n_g|`
    * (common denominator `n_g * N`), summed then reported as
    * `t_ppm = sum * 1e6 div (n_g * N * (m-1))` — engine-portable, and
    * `at_risk = t_ppm > tPpm`.
    *
    * Shape: one (group, sensitive) rollup, one global sensitive rollup
    * (broadcast — the sensitive DOMAIN is small by definition), cumsums
    * over the per-group ordered domain (parallel across groups). Groups
    * missing a sensitive value still accumulate its global mass — the
    * dense domain comes from a cross join of groups x global values
    * (bounded: groups x m).
    */
  def tCloseness(df: DataFrame, qiCols: Seq[String], sensitiveCol: Column,
      tPpm: Long): DataFrame = {
    require(qiCols.nonEmpty, "tCloseness needs at least one QI column")
    require(tPpm >= 0 && tPpm <= 1000000L, s"tPpm: $tPpm")
    val gcols = qiCols.map(col)
    val base = df.filter(sensitiveCol.isNotNull)
      .select(gcols :+ sensitiveCol.as("__sv"): _*)
    // ONE raw scan: the global distribution, group sizes and corpus
    // totals all roll up FROM the cell rollup (plan-audit r12: base was
    // re-scanned for each — 4 raw scans, now 1; the pin is cell-domain
    // bounded, the dense-grid contract)
    val cells = base.groupBy(gcols :+ col("__sv"): _*)
      .agg(count(lit(1)).as("__c"))
      .pinLazy()
    val globalDist = cells.groupBy(col("__sv"))
      .agg(sum(col("__c")).as("__gc"))
    val groups = cells.groupBy(gcols: _*).agg(sum(col("__c")).as("__ng"))
    val nTot = cells.agg(sum(col("__c")).as("__n"),
      countDistinct(col("__sv")).as("__m"))
    // dense (group x sensitive-domain) grid so absent values carry their
    // global mass through the cumulative
    val grid = groups.crossJoin(broadcast(globalDist))
      .join(cells, qiCols :+ "__sv", "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gcols: _*).orderBy(col("__sv").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid
      .crossJoin(broadcast(nTot))
      .withColumn("__diff",
        abs(sum(col("__c")).over(w) * col("__n") -
          sum(col("__gc")).over(w) * col("__ng")))
      .groupBy(gcols :+ col("__ng").as("group_size") :+ col("__n") :+ col("__m"): _*)
      .agg(sum(col("__diff")).as("__sd"))
      .withColumn("t_ppm",
        when(col("__m") > 1L,
          call_function("div",
            col("__sd").cast("decimal(38,0)") * 1000000L,
            (col("group_size").cast("decimal(38,0)") * col("__n")) *
              (col("__m") - 1L)).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("at_risk", col("t_ppm") > tPpm)
      .drop("__sd", "__n", "__m")
  }

  /** l-diversity audit — [[kAnonymity]]'s stronger sibling: a
    * quasi-identifier group is at risk when its SENSITIVE attribute takes
    * fewer than `l` distinct values, even if the group itself is large
    * (the homogeneity attack k-anonymity misses: 500 people sharing one
    * diagnosis are all re-identified the moment the group is). One
    * rollup keyed on the QI columns; distinct counting is exact
    * (count(DISTINCT) inside the same partial-agg shuffle). NULL
    * sensitive values count as a value of their own — withholding the
    * attribute is itself information.
    */
  def lDiversity(df: DataFrame, qiCols: Seq[String], sensitiveCol: Column,
      l: Long): DataFrame = {
    require(qiCols.nonEmpty, "lDiversity needs at least one QI column")
    require(l >= 2, s"l must be >= 2: $l")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        (countDistinct(sensitiveCol) +
          max(when(sensitiveCol.isNull, 1L).otherwise(0L))).as("n_sensitive"))
      .withColumn("at_risk", col("n_sensitive") < l)
  }
}
