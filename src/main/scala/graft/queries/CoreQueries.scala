package graft.queries

import java.sql.Timestamp
import java.time.LocalDate
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Functions._
import graft.operators.{GapEngine, GapExceptions, GenericTests, MeasureSpec, Scenario, TriStateRules}
import graft.engine.Incremental
import graft.sources.Sources.table
import graft.engine.Pin.PinOps

/** The reference DAG (stg -> int_gap_col_status -> violations -> exceptions)
  * and every §2 relational operator, instantiated over the driver's TPC-H-ish
  * star schema (TESTDATA.md): customer -> members, orders -> claims/events,
  * order priority -> procedure code.
  *
  * Every query has a value-exact DuckDB oracle. Parity rules used throughout:
  *  - money math in DECIMAL(18,2) then CAST AS DOUBLE at the end (exact in
  *    both engines; raw double aggregation would diverge in last bits);
  *  - counts CAST AS BIGINT (DuckDB sum/count would give HUGEINT);
  *  - year() CAST AS INTEGER (DuckDB year() is BIGINT, Spark's is INT);
  *  - no raw-nanosecond timestamps in outputs.
  */
object CoreQueries extends QuerySet {

  // ---- shared model fragments (Spark side) --------------------------------

  private val AsOf = LocalDate.of(2000, 12, 31)

  /** stg_members analog (stg_members.sql:1-5 generalized): member spine from
    * customer with a deterministic synthetic birth_date.
    */
  def members(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer").select(
      col("c_custkey").cast("long").as("member_id"),
      date_add(to_date(lit("1940-01-01")), (col("c_custkey") % 20000).cast("int")).as("birth_date"))

  /** stg_claim_lines analog (stg_claim_lines.sql:3-8, P1 typed projection). */
  def claims(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders").select(
      col("o_orderkey").cast("long").as("claim_id"),
      col("o_custkey").cast("long").as("member_id"),
      col("o_orderdate").cast("date").as("service_date"),
      upper(col("o_orderpriority")).as("proc_code"))

  /** COL measure mapped onto order priorities (int_gap_col_status.sql:19-22). */
  val colSpec: MeasureSpec = MeasureSpec(
    measureId = "COL", minAge = 45, maxAge = 75,
    scenarios = Seq(
      Scenario("COLONOSCOPY",     Seq("1-URGENT"),        Some(6), 1),
      Scenario("SIGMOIDOSCOPY",   Seq("2-HIGH"),          Some(4), 2),
      Scenario("CT_COLONOGRAPHY", Seq("3-MEDIUM"),        Some(3), 3),
      Scenario("STOOL_DNA_FIT",   Seq("4-NOT SPECIFIED"), Some(2), 4),
      Scenario("FIT_FOBT",        Seq("5-LOW"),           None,    5)),
    ruleVersion = "COL_V1")

  /** A second measure over the same event stream — the engine is spec-driven,
    * not COL-hardcoded (BCS: narrower age band, 2 scenarios, its own ranks).
    */
  val bcsSpec: MeasureSpec = MeasureSpec(
    measureId = "BCS", minAge = 50, maxAge = 74,
    scenarios = Seq(
      Scenario("MAMMOGRAPHY",        Seq("2-HIGH"),   Some(2), 1),
      Scenario("DIGITAL_TOMO",       Seq("3-MEDIUM"), None,    2)),
    ruleVersion = "BCS_V1")

  def gapStatusFor(spec: MeasureSpec)(spark: SparkSession, dir: String): DataFrame = {
    val hospice = table(spark, dir, "customer")
      .filter(col("c_acctbal") < 0)
      .select(col("c_custkey").cast("long").as("member_id"))
    val events = claims(spark, dir).select(
      col("claim_id").as("evidence_id"), col("member_id"),
      col("service_date").as("event_date"), col("proc_code").as("code"))
    GapEngine.status(spark, members(spark, dir), events, spec,
      Seq("in_hospice" -> hospice), AsOf)
  }

  def gapStatus(spark: SparkSession, dir: String): DataFrame =
    gapStatusFor(colSpec)(spark, dir)

  // ---- shared oracle fragments (DuckDB side) ------------------------------

  private val membersSql =
    """SELECT CAST(c_custkey AS BIGINT) AS member_id,
      |       DATE '1940-01-01' + CAST(c_custkey % 20000 AS INTEGER) AS birth_date
      |FROM customer""".stripMargin

  private val claimsSql =
    """SELECT CAST(o_orderkey AS BIGINT) AS claim_id,
      |       CAST(o_custkey AS BIGINT) AS member_id,
      |       CAST(o_orderdate AS DATE) AS service_date,
      |       UPPER(o_orderpriority) AS proc_code
      |FROM orders""".stripMargin

  /** DuckDB oracle for any MeasureSpec — generated from the SAME spec object
    * the Spark engine runs, so the two can never drift (single source of
    * truth for scenarios, age band, rule version).
    */
  def gapOracleSql(spec: MeasureSpec,
      extraExcl: Seq[(String, String)] = Nil): String = {
    val my = AsOf.getYear
    val scenRows = spec.scenarios.flatMap(s => s.codes.map(c =>
      s"('$c','${s.reason}',${s.durabilityRank},${s.lookbackYears.map(_.toString).getOrElse("NULL")})"))
      .mkString(",\n         ")
    // extra exclusion sets compose exactly like hospice: a member_id CTE,
    // a left join, a 0/1 flag, and a seat in the denominator-exit predicate
    val exCtes  = extraExcl.map { case (n, q) => s",\n$n AS ($q)" }.mkString
    val exFlags = extraExcl.map { case (n, _) =>
      s",\n       |         CASE WHEN x_$n.member_id IS NOT NULL THEN 1 ELSE 0 END AS $n" }.mkString
    val exJoins = extraExcl.map { case (n, _) =>
      s" LEFT JOIN $n x_$n ON m.member_id = x_$n.member_id" }.mkString
    val exOut   = extraExcl.map { case (n, _) => s", e.$n" }.mkString
    val anyEx   = extraExcl.map { case (n, _) => s" OR e.$n = 1" }.mkString
    val noEx    = extraExcl.map { case (n, _) => s" AND e.$n = 0" }.mkString
    s"""WITH members AS ($membersSql),
       |hospice AS (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS member_id FROM customer WHERE c_acctbal < 0)$exCtes,
       |elig AS (
       |  SELECT m.member_id,
       |         CASE WHEN (CASE WHEN m.birth_date + to_months(CAST(12*($my - year(m.birth_date)) AS INTEGER)) > DATE '$my-12-31'
       |                         THEN $my - year(m.birth_date) - 1 ELSE $my - year(m.birth_date) END) BETWEEN ${spec.minAge} AND ${spec.maxAge}
       |              THEN 1 ELSE 0 END AS is_age_eligible,
       |         CASE WHEN h.member_id IS NOT NULL THEN 1 ELSE 0 END AS in_hospice$exFlags
       |  FROM members m LEFT JOIN hospice h ON m.member_id = h.member_id$exJoins),
       |ev AS (
       |  SELECT CAST(o_orderkey AS BIGINT) AS evidence_id, CAST(o_custkey AS BIGINT) AS member_id,
       |         CAST(o_orderdate AS DATE) AS event_date, UPPER(o_orderpriority) AS code
       |  FROM orders),
       |scen(code, closure_reason, reason_rank, lookback_years) AS (
       |  VALUES $scenRows),
       |qualified AS (
       |  SELECT e.member_id, e.event_date, e.evidence_id, s.closure_reason, s.reason_rank
       |  FROM ev e JOIN scen s ON e.code = s.code
       |  WHERE e.event_date <= DATE '$my-12-31'
       |    AND e.event_date >= CASE WHEN s.lookback_years IS NULL THEN DATE '$my-01-01'
       |                             ELSE CAST(DATE '$my-12-31' - to_months(CAST(12*s.lookback_years AS INTEGER)) AS DATE) END),
       |best AS (
       |  SELECT member_id, event_date AS closure_date, closure_reason, evidence_id
       |  FROM (SELECT q.*, row_number() OVER (PARTITION BY member_id ORDER BY reason_rank ASC, event_date DESC, evidence_id ASC) AS rn
       |        FROM qualified q) ranked
       |  WHERE rn = 1),
       |gap AS (
       |  SELECT e.member_id, '${spec.measureId}' AS measure_id, CAST($my AS INTEGER) AS measurement_year,
       |         e.is_age_eligible, e.in_hospice$exOut,
       |         CASE WHEN e.is_age_eligible = 0 OR e.in_hospice = 1$anyEx THEN NULL
       |              WHEN b.evidence_id IS NOT NULL THEN 1 ELSE 0 END AS gap_flag,
       |         CASE WHEN e.is_age_eligible = 1 AND e.in_hospice = 0$noEx THEN b.closure_date END AS closure_date,
       |         CASE WHEN e.is_age_eligible = 1 AND e.in_hospice = 0$noEx THEN b.closure_reason END AS closure_reason,
       |         CASE WHEN e.is_age_eligible = 1 AND e.in_hospice = 0$noEx THEN b.evidence_id END AS evidence_id,
       |         DATE '$my-01-01' AS period_start, DATE '$my-12-31' AS period_end,
       |         '${spec.ruleVersion}' AS rule_version
       |  FROM elig e LEFT JOIN best b ON e.member_id = b.member_id)""".stripMargin
  }

  private val gapSql = gapOracleSql(colSpec)

  /** Deterministic corruption of the gap model so every tri-state rule family
    * fires (FIXTURES.md §4 adversarial vectors, scaled up).
    */
  private val corruptSql =
    """corrupt AS (
      |  SELECT member_id, measure_id, measurement_year,
      |         CASE WHEN member_id % 89 = 0 THEN 7 ELSE gap_flag END AS gap_flag,
      |         closure_date,
      |         CASE WHEN gap_flag = 1 AND member_id % 7 = 0 THEN NULL ELSE closure_reason END AS closure_reason,
      |         CASE WHEN gap_flag IS NULL AND member_id % 11 = 0 THEN 4242 ELSE evidence_id END AS evidence_id
      |  FROM gap)""".stripMargin

  private val violationsSql =
    s"""$gapSql,
       |$corruptSql,
       |v AS (
       |  SELECT 'A_FLAG_NOT_0_1_NULL' AS violation_reason, member_id, measure_id, measurement_year, gap_flag
       |  FROM corrupt WHERE gap_flag IS NOT NULL AND gap_flag NOT IN (0, 1)
       |  UNION ALL
       |  SELECT 'C_CLOSED_MISSING_REQUIRED', member_id, measure_id, measurement_year, gap_flag
       |  FROM corrupt WHERE gap_flag = 1 AND (closure_date IS NULL OR closure_reason IS NULL OR evidence_id IS NULL)
       |  UNION ALL
       |  SELECT 'D_NOT_QUALIFIED_HAS_FORBIDDEN', member_id, measure_id, measurement_year, gap_flag
       |  FROM corrupt WHERE gap_flag IS NULL AND (closure_date IS NOT NULL OR closure_reason IS NOT NULL OR evidence_id IS NOT NULL)),
       |viol AS (
       |  SELECT TIMESTAMP '2001-01-15 00:00:00' AS exception_ts, 'COL_V1' AS rule_version,
       |         'COL_TRI_STATE' AS rule_id, 'COL' AS measure_id, v.violation_reason, v.member_id,
       |         v.measure_id AS source_measure_id, v.measurement_year, v.gap_flag
       |  FROM v)""".stripMargin

  private def corrupt(gap: DataFrame): DataFrame =
    gap.select(
      col("member_id"), col("measure_id"), col("measurement_year"),
      when(col("member_id") % 89 === 0, lit(7)).otherwise(col("gap_flag")).as("gap_flag"),
      col("closure_date"),
      when(col("gap_flag") === 1 && col("member_id") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("closure_reason")).as("closure_reason"),
      when(col("gap_flag").isNull && col("member_id") % 11 === 0, lit(4242L))
        .otherwise(col("evidence_id")).as("evidence_id"))

  private val exceptionTs = Timestamp.valueOf("2001-01-15 00:00:00")

  def gapViolations(spark: SparkSession, dir: String): DataFrame = {
    val rules = TriStateRules(
      flagCol = "gap_flag",
      pkCols = Seq("member_id", "measure_id", "measurement_year"),
      closedRequires = Seq("closure_date", "closure_reason", "evidence_id"),
      notQualifiedForbids = Seq("closure_date", "closure_reason", "evidence_id"))
    GapExceptions.violationsModel(
      rules.violations(corrupt(gapStatus(spark, dir))),
      exceptionTs, "COL_V1", "COL_TRI_STATE", "COL")
  }

  // ---- the query set ------------------------------------------------------

  val all: Seq[QueryDef] = Seq(

    QueryDef("q01_stg_claim_lines", (s, d) => claims(s, d), Some(claimsSql)),

    QueryDef("q02_stg_members", (s, d) => members(s, d), Some(membersSql)),

    QueryDef("q03_gap_col_status", (s, d) => gapStatus(s, d),
      Some(s"$gapSql\nSELECT * FROM gap")),

    QueryDef("q29_gap_bcs_status", (s, d) => gapStatusFor(bcsSpec)(s, d),
      Some(s"${gapOracleSql(bcsSpec)}\nSELECT * FROM gap")),

    QueryDef("q187_continuous_enrollment", (s, d) => {
      // islands -> eligibility -> tri-state (the reference's declared
      // int_member_enrollment domain, models/intermediate/members/): each
      // order grants 180 days of coverage; Intervals.mergeIntervals
      // collapses the per-member coverage into enrollment spells, and the
      // COL measure then requires ONE spell to span all of 1997 — members
      // without continuous coverage exit the denominator exactly like a
      // hospice exclusion (tri-state NULL), closing the loop between the
      // interval operator family and the gap engine.
      val spans = table(s, d, "orders").select(
        col("o_custkey").cast("long").as("member_id"),
        col("o_orderdate").cast("date").as("cov_start"),
        date_add(col("o_orderdate").cast("date"), 180).as("cov_end"))
      val enrolled = GapEngine.continuouslyEnrolled(spans,
        to_date(lit("1997-01-01")), to_date(lit("1997-12-31")))
      val notEnrolled = members(s, d).select(col("member_id"))
        .join(enrolled, Seq("member_id"), "left_anti")
      val hospice = table(s, d, "customer")
        .filter(col("c_acctbal") < 0)
        .select(col("c_custkey").cast("long").as("member_id"))
      val events = claims(s, d).select(
        col("claim_id").as("evidence_id"), col("member_id"),
        col("service_date").as("event_date"), col("proc_code").as("code"))
      GapEngine.status(s, members(s, d), events, colSpec,
        Seq("in_hospice" -> hospice, "not_cont_enrolled" -> notEnrolled),
        AsOf)
    }, Some {
      val notEnrolledSql =
        """SELECT m.member_id
          |FROM (SELECT CAST(c_custkey AS BIGINT) AS member_id FROM customer) m
          |LEFT JOIN (SELECT member_id FROM (
          |    SELECT member_id, min(cs) AS i_start, max(ce) AS i_end FROM (
          |      SELECT member_id, cs, ce,
          |             sum(CASE WHEN pme IS NULL OR cs > pme THEN 1 ELSE 0 END)
          |               OVER (PARTITION BY member_id ORDER BY cs ASC, ce ASC ROWS UNBOUNDED PRECEDING) AS gid
          |      FROM (
          |        SELECT member_id, cs, ce,
          |               max(ce) OVER (PARTITION BY member_id ORDER BY cs ASC, ce ASC
          |                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
          |        FROM (SELECT CAST(o_custkey AS BIGINT) AS member_id,
          |                     CAST(o_orderdate AS DATE) AS cs,
          |                     CAST(o_orderdate AS DATE) + 180 AS ce FROM orders)))
          |    GROUP BY member_id, gid)
          |  WHERE i_start <= DATE '1997-01-01' AND i_end >= DATE '1997-12-31') en
          |  ON m.member_id = en.member_id
          |WHERE en.member_id IS NULL""".stripMargin
      s"${gapOracleSql(colSpec, Seq("not_cont_enrolled" -> notEnrolledSql))}\nSELECT * FROM gap"
    }),

    QueryDef("q190_enrollment_tolerant", (s, d) => {
      // the ALLOWABLE-GAP enrollment rule real HEDIS specs use: coverage
      // clipped to 1997, anchored at both ends, at most ONE interior gap
      // of at most 45 days (continuouslyEnrolledTolerant — islands + the
      // island-gap lead() sharing one member-keyed shuffle). Same
      // denominator composition as q187; the looser screen admits members
      // the strict rule rejects, and the oracle re-derives every island
      // and gap from scratch.
      val spans = table(s, d, "orders").select(
        col("o_custkey").cast("long").as("member_id"),
        col("o_orderdate").cast("date").as("cov_start"),
        date_add(col("o_orderdate").cast("date"), 120).as("cov_end"))
      val enrolled = GapEngine.continuouslyEnrolledTolerant(spans,
        to_date(lit("1997-01-01")), to_date(lit("1997-12-31")),
        maxGapDays = 45, maxGaps = 1)
      val notEnrolled = members(s, d).select(col("member_id"))
        .join(enrolled, Seq("member_id"), "left_anti")
      val hospice = table(s, d, "customer")
        .filter(col("c_acctbal") < 0)
        .select(col("c_custkey").cast("long").as("member_id"))
      val events = claims(s, d).select(
        col("claim_id").as("evidence_id"), col("member_id"),
        col("service_date").as("event_date"), col("proc_code").as("code"))
      GapEngine.status(s, members(s, d), events, colSpec,
        Seq("in_hospice" -> hospice, "not_cont_enrolled" -> notEnrolled),
        AsOf)
    }, Some {
      val notEnrolledSql =
        """SELECT m.member_id
          |FROM (SELECT CAST(c_custkey AS BIGINT) AS member_id FROM customer) m
          |LEFT JOIN (
          |  SELECT member_id FROM (
          |    SELECT member_id, min(i_start) AS fs, max(i_end) AS le,
          |           sum(CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END) AS n_gaps,
          |           max(CASE WHEN nxt IS NOT NULL THEN nxt - i_end END) AS max_gap
          |    FROM (
          |      SELECT member_id, i_start, i_end,
          |             lead(i_start) OVER (PARTITION BY member_id ORDER BY gid) AS nxt
          |      FROM (
          |        SELECT member_id, gid, min(cs) AS i_start, max(ce) AS i_end
          |        FROM (
          |          SELECT member_id, cs, ce,
          |                 sum(CASE WHEN pme IS NULL OR cs > pme THEN 1 ELSE 0 END)
          |                   OVER (PARTITION BY member_id ORDER BY cs ASC, ce ASC ROWS UNBOUNDED PRECEDING) AS gid
          |          FROM (
          |            SELECT member_id, cs, ce,
          |                   max(ce) OVER (PARTITION BY member_id ORDER BY cs ASC, ce ASC
          |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
          |            FROM (
          |              SELECT member_id, cs, ce FROM (
          |                SELECT CAST(o_custkey AS BIGINT) AS member_id,
          |                       greatest(CAST(o_orderdate AS DATE), DATE '1997-01-01') AS cs,
          |                       least(CAST(o_orderdate AS DATE) + 120, DATE '1997-12-31') AS ce
          |                FROM orders)
          |              WHERE cs <= ce)))
          |        GROUP BY member_id, gid))
          |    GROUP BY member_id)
          |  WHERE fs <= DATE '1997-01-01' AND le >= DATE '1997-12-31'
          |    AND n_gaps <= 1 AND coalesce(max_gap, 0) <= 45) en
          |  ON m.member_id = en.member_id
          |WHERE en.member_id IS NULL""".stripMargin
      s"${gapOracleSql(colSpec, Seq("not_cont_enrolled" -> notEnrolledSql))}\nSELECT * FROM gap"
    }),

    QueryDef("q188_dbt_utils", (s, d) => {
      // the dbt_utils conveniences the reference pins (packages.yml:1-4)
      // but never calls — star / get_column_values / safe_add — exercised
      // together: star prunes the projection at the scan, get_column_values
      // runs at "compile time" (bounded driver list, dbt's macro
      // semantics) and its sorted 1-based position is spliced back in as a
      // literal array, safe_add treats NULL as 0.
      import graft.functions.Functions.{getColumnValues, safeAdd, starExcept}
      val cust = table(s, d, "customer")
      val segs = getColumnValues(cust, "c_mktsegment")
      starExcept(cust, Seq("c_comment", "c_address", "c_phone"))
        .withColumn("bal_pair", safeAdd(col("c_acctbal"),
          when(col("c_custkey") % 3 === 0, col("c_acctbal"))))
        .withColumn("seg_idx",
          array_position(typedLit(segs), col("c_mktsegment")))
    }, Some(
      """SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal,
        |       coalesce(c_acctbal, 0) +
        |         coalesce(CASE WHEN c_custkey % 3 = 0 THEN c_acctbal END, 0) AS bal_pair,
        |       CAST((SELECT count(*) FROM (SELECT DISTINCT c_mktsegment AS s FROM customer) d
        |             WHERE d.s <= customer.c_mktsegment) AS BIGINT) AS seg_idx
        |FROM customer""".stripMargin)),

    QueryDef("q04_gap_col_violations", (s, d) => gapViolations(s, d),
      Some(s"$violationsSql\nSELECT * FROM viol")),

    QueryDef("q05_fct_gap_exceptions", (s, d) => {
      // both sides of the NOT-IN self-anti-join read the same violations
      // model — lazy localCheckpoint materializes the gap+violations pass
      // once instead of twice (I8's identical-inputs rule, applied to a query)
      val withKey = GapExceptions.withExceptionKey(gapViolations(s, d))
        .pinLazy()
      val existing = withKey.filter(col("member_id") % 2 === 0).select("exception_key")
      GapExceptions.newExceptions(withKey, existing)
    }, Some(
      s"""$violationsSql,
         |keyed AS (
         |  SELECT md5(coalesce(cast(member_id as varchar), '') || '|' ||
         |             coalesce(cast(source_measure_id as varchar), '') || '|' ||
         |             coalesce(cast(measurement_year as varchar), '') || '|' ||
         |             coalesce(cast(gap_flag as varchar), '') || '|' ||
         |             coalesce(rule_id, '') || '|' ||
         |             coalesce(violation_reason, '')) AS exception_key, *
         |  FROM viol)
         |SELECT * FROM keyed
         |WHERE exception_key NOT IN (SELECT exception_key FROM keyed WHERE member_id % 2 = 0)""".stripMargin)),

    QueryDef("q06_test_unique", (s, d) =>
      GenericTests.unique(table(s, d, "orders"), "o_custkey"),
      Some("""SELECT o_custkey AS unique_field, CAST(count(*) AS BIGINT) AS n_records
             |FROM orders WHERE o_custkey IS NOT NULL
             |GROUP BY 1 HAVING count(*) > 1""".stripMargin)),

    QueryDef("q07_test_relationships", (s, d) =>
      GenericTests.relationships(
        table(s, d, "lineitem"), "l_partkey",
        table(s, d, "part").filter(col("p_size") <= 25), "p_partkey"),
      Some("""SELECT l_partkey AS from_field FROM lineitem
             |WHERE l_partkey IS NOT NULL
             |  AND l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size <= 25)""".stripMargin)),

    QueryDef("q08_test_accepted_values", (s, d) =>
      GenericTests.acceptedValues(table(s, d, "orders"), "o_orderstatus", Seq("F", "O")),
      Some("""SELECT o_orderstatus AS value_field, CAST(count(*) AS BIGINT) AS n_records
             |FROM orders GROUP BY 1 HAVING o_orderstatus NOT IN ('F','O')""".stripMargin)),

    QueryDef("q09_listagg", (s, d) =>
      table(s, d, "customer")
        .groupBy(col("c_nationkey").as("nation_key"))
        .agg(listAgg(col("c_name"), "|", Some(5)).as("top_names"),
             count(lit(1)).as("n_customers")),
      Some("""SELECT c_nationkey AS nation_key,
             |       array_to_string(list_slice(list_sort(list(c_name)), 1, 5), '|') AS top_names,
             |       CAST(count(*) AS BIGINT) AS n_customers
             |FROM customer GROUP BY 1""".stripMargin)),

    QueryDef("q10_date_spine", (s, d) => {
      val spine = dateSpine(s, "1995-01-01", "2001-08-01", "month")
        .select(col("date_month").as("month_start"))
      val perMonth = table(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
        .agg(count(lit(1)).as("n_orders"))
      spine.join(perMonth, Seq("month_start"), "left")
        .select(col("month_start"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    }, Some(
      """WITH spine AS (
        |  SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '2001-08-01', INTERVAL 1 MONTH)) AS DATE) AS month_start),
        |o AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1)
        |SELECT s.month_start, COALESCE(o.n, 0) AS n_orders
        |FROM spine s LEFT JOIN o ON s.month_start = o.m""".stripMargin)),

    QueryDef("q11_claim_rollups", (s, d) =>
      table(s, d, "orders").groupBy(col("o_custkey").cast("long").as("member_id"))
        .agg(
          count(lit(1)).as("n_claims"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_billed"),
          min(col("o_orderdate").cast("date")).as("first_service"),
          max(col("o_orderdate").cast("date")).as("last_service")),
      Some("""SELECT CAST(o_custkey AS BIGINT) AS member_id,
             |       CAST(count(*) AS BIGINT) AS n_claims,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_billed,
             |       CAST(min(o_orderdate) AS DATE) AS first_service,
             |       CAST(max(o_orderdate) AS DATE) AS last_service
             |FROM orders GROUP BY 1""".stripMargin)),

    QueryDef("q12_member_cost_summary", (s, d) => {
      // pre-aggregate lineitem per order, then count orders per member —
      // replaces countDistinct(o_orderkey) (whose distinct-expand would
      // re-shuffle every lineitem row) with two narrow partial-agg shuffles
      val perOrder = table(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .as("order_revenue"))
      val rev = perOrder
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").cast("long").as("member_id"))
        .agg(
          count(lit(1)).as("n_claims"),
          sum(col("order_revenue")).cast("double").as("net_revenue"))
      val cust = table(s, d, "customer")
      val nation = table(s, d, "nation")
      rev.join(cust, col("member_id") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .select(col("member_id"), col("n_name").as("nation"), col("n_claims"), col("net_revenue"))
    }, Some(
      """WITH rev AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS member_id,
        |         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_claims,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS net_revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1)
        |SELECT r.member_id, n.n_name AS nation, r.n_claims, r.net_revenue
        |FROM rev r JOIN customer c ON r.member_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin)),

    QueryDef("q13_incremental_merge", (s, d) => {
      val tgt = table(s, d, "orders").filter(col("o_orderdate") < lit("1999-01-01").cast("date"))
        .select(col("o_orderkey").cast("long").as("claim_id"),
          col("o_custkey").cast("long").as("member_id"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").cast("decimal(18,2)").cast("double").as("total"),
          col("o_orderdate").cast("date").as("service_date"))
      val src = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1998-07-01").cast("date") &&
                col("o_orderdate") < lit("2000-01-01").cast("date"))
        .select(col("o_orderkey").cast("long").as("claim_id"),
          col("o_custkey").cast("long").as("member_id"),
          lit("R").as("status"),
          (col("o_totalprice").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
            .cast("double").as("total"),
          col("o_orderdate").cast("date").as("service_date"))
      Incremental.merge(tgt, src, Seq("claim_id"))
    }, Some(
      """WITH tgt AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS claim_id, CAST(o_custkey AS BIGINT) AS member_id,
        |         o_orderstatus AS status, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total,
        |         CAST(o_orderdate AS DATE) AS service_date
        |  FROM orders WHERE o_orderdate < DATE '1999-01-01'),
        |src AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS claim_id, CAST(o_custkey AS BIGINT) AS member_id,
        |         'R' AS status, CAST(CAST(o_totalprice AS DECIMAL(18,2)) + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS total,
        |         CAST(o_orderdate AS DATE) AS service_date
        |  FROM orders WHERE o_orderdate >= DATE '1998-07-01' AND o_orderdate < DATE '2000-01-01')
        |SELECT * FROM src
        |UNION ALL
        |SELECT * FROM tgt WHERE claim_id NOT IN (SELECT claim_id FROM src)""".stripMargin)),

    QueryDef("q14_incremental_delete_insert", (s, d) => {
      val tgt = table(s, d, "orders").filter(col("o_orderdate") < lit("1999-01-01").cast("date"))
        .select(col("o_orderkey").cast("long").as("claim_id"),
          col("o_custkey").cast("long").as("member_id"),
          col("o_orderdate").cast("date").as("service_date"))
      val src = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1998-01-01").cast("date") &&
                col("o_orderdate") < lit("2000-01-01").cast("date"))
        .select(col("o_orderkey").cast("long").as("claim_id"),
          col("o_custkey").cast("long").as("member_id"),
          col("o_orderdate").cast("date").as("service_date"))
      Incremental.deleteInsert(tgt, src, Seq("claim_id"),
        incrementalPredicates = Seq(col("service_date") >= lit("1998-07-01").cast("date")))
    }, Some(
      """WITH tgt AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS claim_id, CAST(o_custkey AS BIGINT) AS member_id,
        |         CAST(o_orderdate AS DATE) AS service_date
        |  FROM orders WHERE o_orderdate < DATE '1999-01-01'),
        |src AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS claim_id, CAST(o_custkey AS BIGINT) AS member_id,
        |         CAST(o_orderdate AS DATE) AS service_date
        |  FROM orders WHERE o_orderdate >= DATE '1998-01-01' AND o_orderdate < DATE '2000-01-01')
        |SELECT * FROM tgt WHERE NOT (service_date >= DATE '1998-07-01')
        |UNION ALL
        |SELECT * FROM tgt WHERE service_date >= DATE '1998-07-01' AND claim_id NOT IN (SELECT claim_id FROM src)
        |UNION ALL
        |SELECT * FROM src""".stripMargin)),

    QueryDef("q15_scd2_snapshot", (s, d) => {
      import graft.engine.Snapshot
      val t1 = Timestamp.valueOf("2000-01-01 00:00:00")
      val t2 = Timestamp.valueOf("2000-02-01 00:00:00")
      val s1 = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("member_id"),
        col("c_mktsegment").as("segment"))
      // deterministic second source state: changed / deleted / new keys
      val s2 = s1.filter(col("member_id") % 17 =!= 3)
        .select(col("member_id"),
          when(col("member_id") % 10 === 0, lit("CHANGED")).otherwise(col("segment")).as("segment"))
        .unionByName(s1.filter(col("member_id") % 13 === 5)
          .select((col("member_id") + 1000000).as("member_id"), lit("NEW").as("segment")))
      val history = Snapshot.firstRun(s1, Seq("member_id"),
        Snapshot.CheckStrategy(Seq("segment"), t1))
      Snapshot.apply(history, s2, Seq("member_id"),
        Snapshot.CheckStrategy(Seq("segment"), t2), Snapshot.Invalidate, t2)
    }, Some(
      """WITH s1 AS (SELECT CAST(c_custkey AS BIGINT) AS member_id, c_mktsegment AS segment FROM customer),
        |s2 AS (SELECT member_id, CASE WHEN member_id % 10 = 0 THEN 'CHANGED' ELSE segment END AS segment
        |       FROM s1 WHERE member_id % 17 <> 3
        |       UNION ALL
        |       SELECT member_id + 1000000, 'NEW' FROM s1 WHERE member_id % 13 = 5),
        |j AS (SELECT s1.member_id AS m1, s1.segment AS seg1, s2.member_id AS m2, s2.segment AS seg2
        |      FROM s1 FULL OUTER JOIN s2 ON s1.member_id = s2.member_id),
        |rows_out AS (
        |  SELECT m1 AS member_id, seg1 AS segment,
        |         TIMESTAMP '2000-01-01 00:00:00' AS dbt_updated_at,
        |         TIMESTAMP '2000-01-01 00:00:00' AS dbt_valid_from,
        |         CAST(NULL AS TIMESTAMP) AS dbt_valid_to
        |  FROM j WHERE m1 IS NOT NULL AND m2 IS NOT NULL AND seg1 = seg2
        |  UNION ALL
        |  SELECT m1, seg1, TIMESTAMP '2000-01-01 00:00:00', TIMESTAMP '2000-01-01 00:00:00',
        |         TIMESTAMP '2000-02-01 00:00:00'
        |  FROM j WHERE m1 IS NOT NULL AND m2 IS NOT NULL AND seg1 <> seg2
        |  UNION ALL
        |  SELECT m2, seg2, TIMESTAMP '2000-02-01 00:00:00', TIMESTAMP '2000-02-01 00:00:00', NULL
        |  FROM j WHERE m1 IS NOT NULL AND m2 IS NOT NULL AND seg1 <> seg2
        |  UNION ALL
        |  SELECT m2, seg2, TIMESTAMP '2000-02-01 00:00:00', TIMESTAMP '2000-02-01 00:00:00', NULL
        |  FROM j WHERE m1 IS NULL
        |  UNION ALL
        |  SELECT m1, seg1, TIMESTAMP '2000-01-01 00:00:00', TIMESTAMP '2000-01-01 00:00:00',
        |         TIMESTAMP '2000-02-01 00:00:00'
        |  FROM j WHERE m2 IS NULL)
        |SELECT member_id, segment,
        |       md5(coalesce(cast(member_id as varchar),'') || '|' ||
        |           coalesce(cast(dbt_valid_from as varchar),'')) AS dbt_scd_id,
        |       dbt_updated_at, dbt_valid_from, dbt_valid_to
        |FROM rows_out""".stripMargin)),

    QueryDef("q28_incremental_microbatch", (s, d) => {
      // I5: replace exactly the [1999-01-01, 1999-07-01) event-time slice
      val cols = Seq(
        col("o_orderkey").cast("long").as("claim_id"),
        col("o_custkey").cast("long").as("member_id"),
        col("o_orderdate").cast("date").as("service_date"),
        col("o_orderstatus").as("status"))
      val tgt = table(s, d, "orders")
        .filter(col("o_orderdate") < lit("2000-01-01").cast("date")).select(cols: _*)
      val batch = table(s, d, "orders")
        .select(cols: _*).withColumn("status", lit("REPROCESSED"))
      Incremental.microbatch(tgt, batch, "service_date",
        lit("1999-01-01").cast("date"), lit("1999-07-01").cast("date"))
    }, Some(
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS claim_id, CAST(o_custkey AS BIGINT) AS member_id,
        |         CAST(o_orderdate AS DATE) AS service_date, o_orderstatus AS status
        |  FROM orders)
        |SELECT * FROM base
        |WHERE service_date < DATE '2000-01-01'
        |  AND (service_date < DATE '1999-01-01' OR service_date >= DATE '1999-07-01')
        |UNION ALL
        |SELECT claim_id, member_id, service_date, 'REPROCESSED' AS status FROM base
        |WHERE service_date >= DATE '1999-01-01' AND service_date < DATE '1999-07-01'""".stripMargin)),

    QueryDef("q16_window_top_claim", (s, d) =>
      table(s, d, "orders")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
        .filter(col("rn") === 1)
        .select(col("o_custkey").cast("long").as("member_id"),
          col("o_orderkey").cast("long").as("top_claim_id"),
          col("o_totalprice").as("top_total")),
      Some("""SELECT CAST(o_custkey AS BIGINT) AS member_id,
             |       CAST(o_orderkey AS BIGINT) AS top_claim_id,
             |       o_totalprice AS top_total
             |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             |             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
             |      FROM orders) t
             |WHERE rn = 1""".stripMargin)),

    QueryDef("q17_set_ops", (s, d) => {
      val rich = table(s, d, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").cast("long").as("member_id"))
      val south = table(s, d, "customer").filter(col("c_nationkey") < 5)
        .select(col("c_custkey").cast("long").as("member_id"))
      rich.except(south).withColumn("op", lit("except"))
        .unionByName(rich.intersect(south).withColumn("op", lit("intersect")))
    }, Some(
      """WITH rich AS (SELECT CAST(c_custkey AS BIGINT) AS member_id FROM customer WHERE c_acctbal > 5000),
        |south AS (SELECT CAST(c_custkey AS BIGINT) AS member_id FROM customer WHERE c_nationkey < 5)
        |SELECT member_id, 'except' AS op FROM (SELECT * FROM rich EXCEPT SELECT * FROM south) a
        |UNION ALL
        |SELECT member_id, 'intersect' AS op FROM (SELECT * FROM rich INTERSECT SELECT * FROM south) b""".stripMargin)),

    QueryDef("q18_age_at", (s, d) =>
      members(s, d).select(col("member_id"), col("birth_date"),
        ageAt(col("birth_date"), to_date(lit("2000-12-31"))).as("age")),
      Some(s"""WITH m AS ($membersSql)
              |SELECT member_id, birth_date,
              |       CAST(CASE WHEN birth_date + to_months(CAST(12*(2000 - year(birth_date)) AS INTEGER)) > DATE '2000-12-31'
              |            THEN 2000 - year(birth_date) - 1 ELSE 2000 - year(birth_date) END AS INTEGER) AS age
              |FROM m""".stripMargin)),

    QueryDef("q19_surrogate_key", (s, d) =>
      table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("claim_id"),
        col("l_linenumber").as("line_number"),
        surrogateKey(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_shipdate").cast("date")).as("line_key")),
      Some("""SELECT CAST(l_orderkey AS BIGINT) AS claim_id, l_linenumber AS line_number,
             |       md5(coalesce(cast(l_orderkey as varchar),'') || '|' ||
             |           coalesce(cast(l_linenumber as varchar),'') || '|' ||
             |           coalesce(cast(l_returnflag as varchar),'') || '|' ||
             |           coalesce(cast(CAST(l_shipdate AS DATE) as varchar),'')) AS line_key
             |FROM lineitem""".stripMargin)),

    QueryDef("q20_safe_cast", (s, d) =>
      table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("claim_id"),
        safeCast(substring(col("o_orderpriority"), 1, 1), "int").as("priority_num"),
        safeCastIntegral(col("o_orderpriority"), "int").as("bad_cast")),
      Some("""SELECT CAST(o_orderkey AS BIGINT) AS claim_id,
             |       TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS priority_num,
             |       TRY_CAST(o_orderpriority AS INTEGER) AS bad_cast
             |FROM orders""".stripMargin)),

    QueryDef("q21_bool_any_agg", (s, d) =>
      table(s, d, "orders").groupBy(col("o_custkey").cast("long").as("member_id"))
        .agg(
          expr("bool_or(o_totalprice > 200000)").as("has_big_claim"),
          any_value(col("o_custkey") % 5).cast("long").as("cohort"),
          count(lit(1)).as("n")),
      Some("""SELECT CAST(o_custkey AS BIGINT) AS member_id,
             |       bool_or(o_totalprice > 200000) AS has_big_claim,
             |       CAST(any_value(o_custkey % 5) AS BIGINT) AS cohort,
             |       CAST(count(*) AS BIGINT) AS n
             |FROM orders GROUP BY 1""".stripMargin)),

    QueryDef("q27_stg_providers", (s, d) =>
      // stg_providers stub (SURVEY §0.3): typed staging + broadcast dim join
      table(s, d, "supplier")
        .join(broadcast(table(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .select(
          col("s_suppkey").cast("long").as("provider_id"),
          upper(col("s_name")).as("provider_name"),
          col("n_name").as("nation"),
          col("s_acctbal").cast("decimal(18,2)").cast("double").as("balance")),
      Some("""SELECT CAST(s_suppkey AS BIGINT) AS provider_id,
             |       UPPER(s_name) AS provider_name,
             |       n_name AS nation,
             |       CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS balance
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey""".stripMargin)),

    QueryDef("q25_member_enrollment", (s, d) => {
      // int_member_enrollment stub (SURVEY §0.3): contiguous activity spans
      // via gaps-and-islands — month_index minus row_number groups runs
      val months = table(s, d, "orders").select(
        col("o_custkey").cast("long").as("member_id"),
        date_trunc("month", col("o_orderdate")).cast("date").as("m")).distinct()
      val w = Window.partitionBy("member_id").orderBy("m")
      months
        .withColumn("grp",
          (year(col("m")) * 12 + month(col("m"))).cast("long") - row_number().over(w))
        .groupBy(col("member_id"), col("grp"))
        .agg(min(col("m")).as("span_start"), max(col("m")).as("span_end"),
             count(lit(1)).as("n_months"))
        .select(col("member_id"), col("span_start"), col("span_end"), col("n_months"))
    }, Some(
      """WITH months AS (
        |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS member_id,
        |         CAST(date_trunc('month', o_orderdate) AS DATE) AS m
        |  FROM orders),
        |idx AS (
        |  SELECT member_id, m,
        |         CAST(year(m)*12 + month(m) AS BIGINT) - row_number() OVER (PARTITION BY member_id ORDER BY m) AS grp
        |  FROM months)
        |SELECT member_id, min(m) AS span_start, max(m) AS span_end,
        |       CAST(count(*) AS BIGINT) AS n_months
        |FROM idx GROUP BY member_id, grp""".stripMargin)),

    QueryDef("q26_claim_status", (s, d) =>
      // int_claim_status stub (SURVEY §0.3): conditional-aggregate rollup
      table(s, d, "lineitem").groupBy(col("l_orderkey").cast("long").as("claim_id"))
        .agg(
          count(lit(1)).as("n_lines"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"))
        .withColumn("status",
          when(col("n_returned") === col("n_lines"), lit("RETURNED"))
            .when(col("n_returned") > 0, lit("PARTIAL_RETURN"))
            .otherwise(lit("CLEAN"))),
      Some("""SELECT CAST(l_orderkey AS BIGINT) AS claim_id,
             |       CAST(count(*) AS BIGINT) AS n_lines,
             |       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
             |       CASE WHEN sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) = count(*) THEN 'RETURNED'
             |            WHEN sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) > 0 THEN 'PARTIAL_RETURN'
             |            ELSE 'CLEAN' END AS status
             |FROM lineitem GROUP BY 1""".stripMargin)),

    QueryDef("q24_scalar_funcs", (s, d) =>
      // the §2.7 cross-database scalar utility surface in one projection
      table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("claim_id"),
        split_part(col("o_orderpriority"), lit("-"), lit(1)).as("pri_code"),
        last_day(col("o_orderdate").cast("date")).as("month_end"),
        date_trunc("quarter", col("o_orderdate")).cast("date").as("quarter_start"),
        regexp_replace(col("o_orderpriority"), "-", "_").as("pri_snake"),
        length(col("o_orderpriority")).cast("long").as("pri_len"),
        instr(col("o_orderpriority"), "URGENT").cast("long").as("urgent_pos"),
        expr("right(o_orderpriority, 3)").as("pri_tail"),
        pow(lit(2), col("o_orderkey") % 5).as("pow5"),
        (col("o_totalprice") > 100000).cast("string").as("big_flag_text")),
      Some("""SELECT CAST(o_orderkey AS BIGINT) AS claim_id,
             |       split_part(o_orderpriority, '-', 1) AS pri_code,
             |       last_day(CAST(o_orderdate AS DATE)) AS month_end,
             |       CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
             |       replace(o_orderpriority, '-', '_') AS pri_snake,
             |       CAST(length(o_orderpriority) AS BIGINT) AS pri_len,
             |       CAST(strpos(o_orderpriority, 'URGENT') AS BIGINT) AS urgent_pos,
             |       right(o_orderpriority, 3) AS pri_tail,
             |       power(2, o_orderkey % 5) AS pow5,
             |       CAST((o_totalprice > 100000) AS VARCHAR) AS big_flag_text
             |FROM orders""".stripMargin)),

    QueryDef("q22_events_hourly", (s, d) =>
      graft.sources.Sources.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")),
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
             |FROM events GROUP BY 1, 2""".stripMargin))
  )
}
