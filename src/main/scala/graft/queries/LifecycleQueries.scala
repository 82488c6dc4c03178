package graft.queries

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{ApplyConfig, Checks, DynamicTableConfig, DynamicTableMat, Incremental,
  IncrementalMat, Model, OnConfigChange, Registry, Snapshot, Warehouse}
import graft.engine.Pin.PinOps
import graft.functions.Functions
import graft.operators.Fixtures
import graft.sources.Sources
import graft.sources.Sources.table

/** Round-2 oracle gates for the operators that previously had only spec-level
  * coverage (VERDICT r1 "close the oracle gap"): SN1 timestamp strategy, I7
  * on_schema_change with TYPE drift, S2 seed full-refresh, C3
  * generate_series, C4 eager interval count, C5/C6 fixture + unit compare,
  * SN8 snapshot schema drift, S10 SQL runner, the microbatch batch-series
  * loop, and the listagg order-by clause.
  */
object LifecycleQueries extends QuerySet {

  private val procCodesSchema = StructType(Seq(
    StructField("code", StringType),
    StructField("description", StringType),
    StructField("durability_rank", IntegerType),
    StructField("effective_date", DateType)))

  private val SeedPath = "/root/repo/seeds/proc_codes.csv"
  private val JsonlPath = "/root/repo/seeds/docs_sample.jsonl"

  private val t1 = Timestamp.valueOf("2000-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2000-02-01 00:00:00")

  val all: Seq[QueryDef] = Seq(

    QueryDef("q54_listagg_orderby", (s, d) =>
      // A4 order-by clause (listagg.sql:5-29): agg values ordered by an
      // ARBITRARY key (acctbal desc), not by the value itself; value desc is
      // the deterministic tie-break baked into the struct sort
      table(s, d, "customer")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(
          Functions.listAggBy(col("c_name"), col("c_acctbal").cast("decimal(12,2)"),
            ",", limit = Some(5), desc = true).as("top_names"),
          count(lit(1)).as("n_members")),
      Some(
        """SELECT c_mktsegment AS segment,
          |       array_to_string(list_slice(
          |         list(c_name ORDER BY CAST(c_acctbal AS DECIMAL(12,2)) DESC, c_name DESC),
          |         1, 5), ',') AS top_names,
          |       CAST(count(*) AS BIGINT) AS n_members
          |FROM customer GROUP BY 1""".stripMargin)),

    QueryDef("q55_snapshot_timestamp", (s, d) => {
      // SN1 (strategies.sql:56-88): change detection driven ONLY by the
      // source's updated_at vs the open row's valid_from — values never
      // compared
      val s1 = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("member_id"),
        col("c_mktsegment").as("segment"),
        lit(t1).as("updated_at"))
      val s2 = s1.select(col("member_id"),
        when(col("member_id") % 10 === 0, lit("CHANGED")).otherwise(col("segment")).as("segment"),
        when(col("member_id") % 10 === 0, lit(t2)).otherwise(col("updated_at")).as("updated_at"))
      val h1 = Snapshot.firstRun(s1, Seq("member_id"), Snapshot.TimestampStrategy("updated_at"))
      Snapshot.apply(h1, s2, Seq("member_id"),
        Snapshot.TimestampStrategy("updated_at"), Snapshot.IgnoreDeletes, t2)
    }, Some(
      """WITH s1 AS (SELECT CAST(c_custkey AS BIGINT) AS member_id, c_mktsegment AS segment FROM customer)
        |SELECT member_id, segment, TIMESTAMP '2000-01-01 00:00:00' AS updated_at,
        |       md5(cast(member_id as varchar) || '|' || '2000-01-01 00:00:00') AS dbt_scd_id,
        |       TIMESTAMP '2000-01-01 00:00:00' AS dbt_updated_at,
        |       TIMESTAMP '2000-01-01 00:00:00' AS dbt_valid_from,
        |       CAST(NULL AS TIMESTAMP) AS dbt_valid_to
        |FROM s1 WHERE member_id % 10 <> 0
        |UNION ALL
        |SELECT member_id, segment, TIMESTAMP '2000-01-01 00:00:00',
        |       md5(cast(member_id as varchar) || '|' || '2000-01-01 00:00:00'),
        |       TIMESTAMP '2000-01-01 00:00:00', TIMESTAMP '2000-01-01 00:00:00',
        |       TIMESTAMP '2000-02-01 00:00:00'
        |FROM s1 WHERE member_id % 10 = 0
        |UNION ALL
        |SELECT member_id, 'CHANGED', TIMESTAMP '2000-02-01 00:00:00',
        |       md5(cast(member_id as varchar) || '|' || '2000-02-01 00:00:00'),
        |       TIMESTAMP '2000-02-01 00:00:00', TIMESTAMP '2000-02-01 00:00:00',
        |       CAST(NULL AS TIMESTAMP)
        |FROM s1 WHERE member_id % 10 = 0""".stripMargin)),

    QueryDef("q56_schema_change_sync", (s, d) => {
      // I7 with TYPE drift (on_schema_change.sql:20-103): the incremental
      // run's source WIDENS claim_id int->bigint and ADDS a column; under
      // sync_all_columns the stored target is retyped + null-backfilled
      // before the merge
      val wh = Scratch.warehouse("q56", d, s, Seq("fct_claims_sync"))
      val reg = new Registry(s, wh)
      reg.source("orders_src", table(s, d, "orders"))
      reg.register(Model("fct_claims_sync", Seq("orders_src"),
        IncrementalMat(Incremental.Merge, Seq("claim_id"),
          onSchemaChange = Incremental.SyncAllColumns),
        ctx => {
          val o = ctx.ref("orders_src")
          if (ctx.isIncremental)
            o.select(
              col("o_orderkey").cast("long").as("claim_id"), // widened
              col("o_custkey").cast("long").as("member_id"),
              col("o_orderdate").cast("date").as("service_date"),
              lit("R").as("status"),
              col("o_orderpriority").as("priority"))          // added
              .filter(col("service_date") >= lit("1997-06-01").cast("date"))
          else
            o.select(
              col("o_orderkey").cast("int").as("claim_id"),
              col("o_custkey").cast("long").as("member_id"),
              col("o_orderdate").cast("date").as("service_date"),
              col("o_orderstatus").as("status"))
              .filter(col("service_date") < lit("1998-01-01").cast("date"))
        }))
      reg.run()
      reg.run()
      wh.read("fct_claims_sync")
    }, Some(
      """WITH tgt AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS claim_id, CAST(o_custkey AS BIGINT) AS member_id,
        |         CAST(o_orderdate AS DATE) AS service_date, o_orderstatus AS status,
        |         CAST(NULL AS VARCHAR) AS priority
        |  FROM orders WHERE o_orderdate < DATE '1998-01-01'),
        |src AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS claim_id, CAST(o_custkey AS BIGINT) AS member_id,
        |         CAST(o_orderdate AS DATE) AS service_date, 'R' AS status,
        |         o_orderpriority AS priority
        |  FROM orders WHERE o_orderdate >= DATE '1997-06-01')
        |SELECT * FROM src
        |UNION ALL
        |SELECT * FROM tgt WHERE claim_id NOT IN (SELECT claim_id FROM src)""".stripMargin)),

    QueryDef("q57_seed_full_refresh", (s, d) => {
      // S2 (dbt seed --full-refresh): reload truncates and repopulates the
      // stored seed table through the swap protocol; the second write must
      // leave the logical content identical to a single load
      val wh = Scratch.warehouse("q57", d, s, Seq("seed_codes"))
      val codes = Sources.seed(s, SeedPath, Some(procCodesSchema))
      wh.writeSwap("seed_codes", codes)
      wh.writeSwap("seed_codes", codes) // full refresh
      wh.read("seed_codes")
    }, Some(
      s"""SELECT code, description, CAST(durability_rank AS INTEGER) AS durability_rank,
         |       CAST(effective_date AS DATE) AS effective_date
         |FROM read_csv('$SeedPath', header=true)""".stripMargin)),

    QueryDef("q58_generate_series", (s, _) =>
      // C3 (generate_series.sql:18-52): distributed 1..n series
      Functions.generateSeries(s, 1000),
      Some("SELECT CAST(generate_series AS BIGINT) AS generated_number FROM generate_series(1, 1000)")),

    QueryDef("q59_date_spine_eager", (s, _) => {
      // C2+C4 (date_spine.sql:1-74): the spine length is computed EAGERLY in
      // driver-side date math (the reference's scalar datediff subquery) and
      // drives a distributed range; month-end clamping exercised via the
      // Jan-31 anchor
      val n = Functions.intervalsBetween("1995-01-31", "1999-11-03", "month")
      s.range(0, n).select(
        add_months(to_date(lit("1995-01-31")), col("id").cast("int")).as("period_start"))
    }, Some(
      """SELECT CAST(DATE '1995-01-31' + INTERVAL (i) MONTH AS DATE) AS period_start
        |FROM range(58) t(i)""".stripMargin)),

    QueryDef("q60_unit_test_fixture", (s, d) => {
      // C5 fixture relation (get_fixture_sql.sql:1-44: literal rows, missing
      // columns -> typed NULLs) + C6 unit compare (symmetric multiset diff),
      // emitted as dbt's unit-test failure relation: each differing row
      // tagged with its side
      val schema = StructType(Seq(
        StructField("segment", StringType), StructField("n_members", LongType)))
      val actual = table(s, d, "customer")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_members"))
      val expected = Fixtures.relation(s, schema, Seq(
        Map("segment" -> "AUTOMOBILE", "n_members" -> 0L), // deliberately wrong
        Map("segment" -> "MACHINERY")))                    // n_members -> typed NULL
      Checks.sideDiff(actual, expected)
    }, Some(
      """WITH actual AS (
        |  SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_members
        |  FROM customer GROUP BY 1),
        |expected AS (
        |  SELECT * FROM (VALUES ('AUTOMOBILE', CAST(0 AS BIGINT)),
        |                        ('MACHINERY', CAST(NULL AS BIGINT))) t(segment, n_members))
        |SELECT *, 'actual' AS side FROM (SELECT * FROM actual EXCEPT ALL SELECT * FROM expected)
        |UNION ALL
        |SELECT *, 'expected' AS side FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM actual)""".stripMargin)),

    QueryDef("q61_microbatch_series", (s, d) => {
      // the dbt microbatch BATCH-SERIES loop: after a CTAS first run, three
      // consecutive month windows advance through the registry, each
      // replacing only its event-time slice
      val wh = Scratch.warehouse("q61", d, s, Seq("mb_claims"))
      val reg = new Registry(s, wh)
      reg.source("orders_src", table(s, d, "orders"))
      reg.register(Model("mb_claims", Seq("orders_src"),
        IncrementalMat(Incremental.Microbatch("service_date", "1998-01-01", "1998-02-01",
          grain = "month"), Nil),
        ctx => {
          val o = ctx.ref("orders_src").select(
            col("o_orderkey").cast("long").as("claim_id"),
            col("o_custkey").cast("long").as("member_id"),
            col("o_orderdate").cast("date").as("service_date"),
            col("o_orderstatus").as("status"))
          if (ctx.isIncremental) o.withColumn("status", lit("R")) else o
        }))
      reg.run() // CTAS
      reg.runMicrobatches("mb_claims", "1998-01-01", "1998-04-01", "month")
      wh.read("mb_claims")
    }, Some(
      """SELECT CAST(o_orderkey AS BIGINT) AS claim_id, CAST(o_custkey AS BIGINT) AS member_id,
        |       CAST(o_orderdate AS DATE) AS service_date,
        |       CASE WHEN o_orderdate >= DATE '1998-01-01' AND o_orderdate < DATE '1998-04-01'
        |            THEN 'R' ELSE o_orderstatus END AS status
        |FROM orders""".stripMargin)),

    QueryDef("q62_snapshot_schema_drift", (s, d) => {
      // SN8 (snapshot.sql:47-63): the run-2 source ADDS a column; history
      // rows from run 1 get it null-backfilled, new versions carry the value
      val s1 = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("member_id"),
        col("c_mktsegment").as("segment"))
      val s2 = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("member_id"),
        when(col("c_custkey") % 10 === 0, lit("CHANGED")).otherwise(col("c_mktsegment")).as("segment"),
        col("c_nationkey").cast("long").as("region_key"))
      val h1 = Snapshot.firstRun(s1, Seq("member_id"), Snapshot.CheckStrategy(Seq("segment"), t1))
      Snapshot.apply(h1, s2, Seq("member_id"),
        Snapshot.CheckStrategy(Seq("segment"), t2), Snapshot.IgnoreDeletes, t2)
    }, Some(
      """WITH s1 AS (SELECT CAST(c_custkey AS BIGINT) AS member_id, c_mktsegment AS segment,
        |                   CAST(c_nationkey AS BIGINT) AS region_key FROM customer)
        |SELECT member_id, segment,
        |       md5(cast(member_id as varchar) || '|' || '2000-01-01 00:00:00') AS dbt_scd_id,
        |       TIMESTAMP '2000-01-01 00:00:00' AS dbt_updated_at,
        |       TIMESTAMP '2000-01-01 00:00:00' AS dbt_valid_from,
        |       CAST(NULL AS TIMESTAMP) AS dbt_valid_to,
        |       CAST(NULL AS BIGINT) AS region_key
        |FROM s1 WHERE member_id % 10 <> 0
        |UNION ALL
        |SELECT member_id, segment,
        |       md5(cast(member_id as varchar) || '|' || '2000-01-01 00:00:00'),
        |       TIMESTAMP '2000-01-01 00:00:00', TIMESTAMP '2000-01-01 00:00:00',
        |       TIMESTAMP '2000-02-01 00:00:00', CAST(NULL AS BIGINT)
        |FROM s1 WHERE member_id % 10 = 0
        |UNION ALL
        |SELECT member_id, 'CHANGED',
        |       md5(cast(member_id as varchar) || '|' || '2000-02-01 00:00:00'),
        |       TIMESTAMP '2000-02-01 00:00:00', TIMESTAMP '2000-02-01 00:00:00',
        |       CAST(NULL AS TIMESTAMP), region_key
        |FROM s1 WHERE member_id % 10 = 0""".stripMargin)),

    QueryDef("q64_dynamic_table", (s, d) => {
      // S8 dynamic-table lifecycle (dynamic_table.sql:27-66): create, then a
      // config-clean NO-OP run, then an on_configuration_change=apply run
      // that re-lays the table under a new cluster key; the stored result
      // must hash-match the plain aggregation
      val wh = Scratch.warehouse("q64", d, s, Seq("dt_claims_daily"))
      def reg(cfg: DynamicTableConfig, onChange: OnConfigChange) = {
        val r = new Registry(s, wh)
        r.source("orders_src", table(s, d, "orders"))
        r.register(Model("dt_claims_daily", Seq("orders_src"),
          DynamicTableMat(cfg, onChange),
          ctx => ctx.ref("orders_src")
            .groupBy(col("o_orderdate").cast("date").as("service_date"))
            .agg(count(lit(1)).as("n_claims"),
              sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_amount"))))
        r
      }
      reg(DynamicTableConfig("1 hour"), ApplyConfig).run()
      reg(DynamicTableConfig("1 hour"), ApplyConfig).run() // config-clean no-op
      reg(DynamicTableConfig("5 minutes", clusterBy = Seq("service_date")),
        ApplyConfig).run()                                 // alter analogue
      wh.read("dt_claims_daily")
    }, Some(
      """SELECT CAST(o_orderdate AS DATE) AS service_date,
        |       CAST(count(*) AS BIGINT) AS n_claims,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
        |FROM orders GROUP BY 1""".stripMargin)),

    QueryDef("q71_source_freshness", (s, d) =>
      // dbt source freshness over the events feed: age of max(loaded_at)
      // vs an injected snapshot time, graded warn (12h < age < 7d)
      graft.operators.GenericTests.sourceFreshness(
        graft.sources.Sources.events(s, d), "ts",
        Timestamp.valueOf("2024-02-01 00:00:00"),
        warnAfterSec = 43200L, errorAfterSec = 604800L),
      Some(
        """SELECT CAST(max(ts) AS TIMESTAMP) AS max_loaded_at,
          |       TIMESTAMP '2024-02-01 00:00:00' AS snapshotted_at,
          |       CAST(floor(epoch(TIMESTAMP '2024-02-01 00:00:00'))
          |            - floor(epoch(CAST(max(ts) AS TIMESTAMP))) AS BIGINT) AS age_sec,
          |       CASE WHEN max(ts) IS NULL
          |              OR floor(epoch(TIMESTAMP '2024-02-01 00:00:00'))
          |                 - floor(epoch(CAST(max(ts) AS TIMESTAMP))) > 604800 THEN 'error'
          |            WHEN floor(epoch(TIMESTAMP '2024-02-01 00:00:00'))
          |                 - floor(epoch(CAST(max(ts) AS TIMESTAMP))) > 43200 THEN 'warn'
          |            ELSE 'pass' END AS freshness_status
          |FROM events""".stripMargin)),

    QueryDef("q72_hll_distinct", (s, d) => {
      // mergeable HLL distinct-count sketch: per-priority register tables,
      // merged into a global sketch by plain bucket-max regroup (the
      // associative 100 TB COUNT DISTINCT path — registers move, raw values
      // never do). countDistinct here is the exact REFERENCE the sketch is
      // judged against, not the scale path.
      import graft.functions.Sketches
      val vals = table(s, d, "orders").select(
        col("o_orderpriority").as("scope"), col("o_orderkey").cast("long").as("k"))
      val regs = Sketches.hllRegisters(vals, Seq("scope"), col("k"))
        // feeds the per-scope estimate AND the global regroup (plan-audit
        // r12 pin: scopes x 256 rows, free); the exact reference below
        // re-reads raw BY DESIGN — it is the judge, not the scale path
        .pinLazy()
      val globalRegs = regs.groupBy(col("hll_bucket"))
        .agg(max(col("hll_rho")).as("hll_rho"))
        .withColumn("scope", lit("ALL"))
      val est = Sketches.hllEstimate(regs, Seq("scope"))
        .unionByName(Sketches.hllEstimate(globalRegs, Seq("scope")))
      val exact = vals.groupBy("scope").agg(countDistinct(col("k")).as("n_exact"))
        .unionByName(vals.agg(countDistinct(col("k")).as("n_exact"))
          .withColumn("scope", lit("ALL")))
      est.join(exact, "scope")
        .select(col("scope"), col("n_exact"), col("hll_estimate"))
    }, Some(
      """WITH vals AS (SELECT o_orderpriority AS scope, CAST(o_orderkey AS BIGINT) AS k FROM orders),
        |regs AS (
        |  SELECT scope,
        |         ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 2))::INT AS hll_bucket,
        |         max(coalesce(nullif(strpos(
        |           lpad(bin(('0x' || substr(md5(CAST(k AS VARCHAR)), 3, 8))::BIGINT), 32, '0'),
        |           '1'), 0), 33)) AS hll_rho
        |  FROM vals GROUP BY 1, 2),
        |allregs AS (
        |  SELECT scope, hll_bucket, hll_rho FROM regs
        |  UNION ALL
        |  SELECT 'ALL', hll_bucket, max(hll_rho) FROM regs GROUP BY 2),
        |est AS (
        |  SELECT scope,
        |         0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)
        |           * 256.0::DOUBLE * 256.0::DOUBLE
        |           / (sum(CAST(1.0 AS DOUBLE) / CAST(1::BIGINT << hll_rho AS DOUBLE))
        |              + CAST(256 - count(*) AS DOUBLE)) AS hll_estimate
        |  FROM allregs GROUP BY 1),
        |exact AS (
        |  SELECT scope, CAST(count(DISTINCT k) AS BIGINT) AS n_exact FROM vals GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', CAST(count(DISTINCT k) AS BIGINT) FROM vals)
        |SELECT e.scope, x.n_exact, e.hll_estimate
        |FROM est e JOIN exact x ON e.scope = x.scope""".stripMargin)),

    QueryDef("q73_asof_join", (s, d) => {
      // point-in-time join: each claim picks the enrollment record in force
      // on its service date (latest eff_date <= service_date per member);
      // DuckDB's native ASOF LEFT JOIN is the oracle
      val cust = table(s, d, "customer")
      def enroll(offsetDays: Int, plan: String) = cust.select(
        col("c_custkey").cast("long").as("member_id"),
        date_add(lit("1992-01-01").cast("date"),
          (col("c_custkey") % 1000).cast("int") + lit(offsetDays)).as("eff_date"),
        lit(plan).as("plan"))
      val enrollment = enroll(0, "BASIC").unionByName(enroll(1500, "PREMIUM"))
      val claims = table(s, d, "orders").select(
        col("o_custkey").cast("long").as("member_id"),
        col("o_orderkey").cast("long").as("claim_id"),
        col("o_orderdate").cast("date").as("service_date"))
      graft.operators.AsOfJoin.asOf(claims, enrollment,
        Seq("member_id"), "service_date", "eff_date")
    }, Some(
      """WITH enroll AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS member_id,
        |         DATE '1992-01-01' + CAST(c_custkey % 1000 AS INTEGER) AS eff_date,
        |         'BASIC' AS plan
        |  FROM customer
        |  UNION ALL
        |  SELECT CAST(c_custkey AS BIGINT),
        |         DATE '1992-01-01' + CAST(c_custkey % 1000 + 1500 AS INTEGER),
        |         'PREMIUM'
        |  FROM customer),
        |claims AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS member_id, CAST(o_orderkey AS BIGINT) AS claim_id,
        |         CAST(o_orderdate AS DATE) AS service_date FROM orders)
        |SELECT c.member_id, c.claim_id, c.service_date, e.eff_date, e.plan
        |FROM claims c ASOF LEFT JOIN enroll e
        |  ON c.member_id = e.member_id AND c.service_date >= e.eff_date""".stripMargin)),

    QueryDef("q74_range_join", (s, d) => {
      // bucketized point-in-interval join: claims x the coverage spans
      // active on the service date (inclusive bounds, overlaps allowed);
      // oracle is the plain BETWEEN join
      val cust = table(s, d, "customer")
      def span(offsetDays: Int, lenDays: Int, plan: String) = cust.select(
        col("c_custkey").cast("long").as("member_id"),
        date_add(lit("1992-01-01").cast("date"),
          (col("c_custkey") % 1000).cast("int") + lit(offsetDays)).as("span_start"),
        date_add(lit("1992-01-01").cast("date"),
          (col("c_custkey") % 1000).cast("int") + lit(offsetDays + lenDays)).as("span_end"),
        lit(plan).as("plan"))
      val spans = span(0, 900, "BASIC").unionByName(span(600, 900, "PREMIUM"))
      val claims = table(s, d, "orders").select(
        col("o_custkey").cast("long").as("member_id"),
        col("o_orderkey").cast("long").as("claim_id"),
        col("o_orderdate").cast("date").as("service_date"))
      graft.operators.RangeJoin.pointInInterval(claims, spans,
        Seq("member_id"), "service_date", "span_start", "span_end",
        bucketWidthDays = 365)
    }, Some(
      """WITH spans AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS member_id,
        |         DATE '1992-01-01' + CAST(c_custkey % 1000 AS INTEGER) AS span_start,
        |         DATE '1992-01-01' + CAST(c_custkey % 1000 + 900 AS INTEGER) AS span_end,
        |         'BASIC' AS plan
        |  FROM customer
        |  UNION ALL
        |  SELECT CAST(c_custkey AS BIGINT),
        |         DATE '1992-01-01' + CAST(c_custkey % 1000 + 600 AS INTEGER),
        |         DATE '1992-01-01' + CAST(c_custkey % 1000 + 1500 AS INTEGER),
        |         'PREMIUM'
        |  FROM customer),
        |claims AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS member_id, CAST(o_orderkey AS BIGINT) AS claim_id,
        |         CAST(o_orderdate AS DATE) AS service_date FROM orders)
        |SELECT c.member_id, c.claim_id, c.service_date, s.span_start, s.span_end, s.plan
        |FROM claims c JOIN spans s
        |  ON c.member_id = s.member_id
        | AND c.service_date BETWEEN s.span_start AND s.span_end""".stripMargin)),

    QueryDef("q78_pivot", (s, d) =>
      // dbt_utils.pivot analogue (the reference pins dbt_utils in
      // packages.yml): status categories become columns via conditional
      // aggregation — the EXPLICIT value list keeps the output schema
      // static, as dbt's compile-time pivot requires
      table(s, d, "orders")
        .groupBy(year(col("o_orderdate").cast("date")).cast("int").as("claim_year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        // empty cells surface as NULL from Spark's pivot but 0 from the
        // oracle's count FILTER — normalize (latent on uniform test data,
        // live on any year missing a status)
        .select(col("claim_year"),
          coalesce(col("F"), lit(0L)).as("n_final"),
          coalesce(col("O"), lit(0L)).as("n_open"),
          coalesce(col("P"), lit(0L)).as("n_pending")),
      Some(
        """SELECT CAST(year(o_orderdate) AS INTEGER) AS claim_year,
          |       CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_final,
          |       CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_open,
          |       CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_pending
          |FROM orders GROUP BY 1""".stripMargin)),

    QueryDef("q79_unpivot", (s, d) =>
      // dbt_utils.unpivot analogue: wide per-part metrics melt into
      // (metric, value) rows — Spark's native unpivot, UNION ALL oracle
      table(s, d, "part")
        .select(col("p_partkey").cast("long").as("part_id"),
          col("p_size").cast("long").as("size_units"),
          length(col("p_name")).cast("long").as("name_len"))
        .unpivot(Array(col("part_id")),
          Array(col("size_units"), col("name_len")),
          "metric", "value"),
      Some(
        """SELECT CAST(p_partkey AS BIGINT) AS part_id, 'size_units' AS metric,
          |       CAST(p_size AS BIGINT) AS value FROM part
          |UNION ALL
          |SELECT CAST(p_partkey AS BIGINT), 'name_len',
          |       CAST(length(p_name) AS BIGINT) FROM part""".stripMargin)),

    QueryDef("q80_union_relations", (s, d) => {
      // dbt_utils.union_relations: two differently-shaped claim extracts
      // align by name into the column superset, each row tagged with its
      // source; missing columns null-backfill
      val legacy = table(s, d, "orders")
        .filter(col("o_orderdate") < lit("1995-01-01").cast("date"))
        .select(col("o_orderkey").cast("long").as("claim_id"),
          col("o_custkey").cast("long").as("member_id"),
          col("o_orderdate").cast("date").as("service_date"))
      val modern = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("date"))
        .select(col("o_orderkey").cast("long").as("claim_id"),
          col("o_custkey").cast("long").as("member_id"),
          col("o_orderdate").cast("date").as("service_date"),
          col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"))
      graft.operators.GenericTests.unionRelations(
        Seq("claims_legacy" -> legacy, "claims_modern" -> modern))
    }, Some(
      """SELECT CAST(o_orderkey AS BIGINT) AS claim_id, CAST(o_custkey AS BIGINT) AS member_id,
        |       CAST(o_orderdate AS DATE) AS service_date,
        |       'claims_legacy' AS _dbt_source_relation,
        |       CAST(NULL AS VARCHAR) AS status, CAST(NULL AS VARCHAR) AS priority
        |FROM orders WHERE o_orderdate < DATE '1995-01-01'
        |UNION ALL
        |SELECT CAST(o_orderkey AS BIGINT), CAST(o_custkey AS BIGINT),
        |       CAST(o_orderdate AS DATE), 'claims_modern', o_orderstatus, o_orderpriority
        |FROM orders WHERE o_orderdate >= DATE '1995-01-01'""".stripMargin)),

    QueryDef("q81_dedup_latest", (s, d) =>
      // dbt_utils.deduplicate: one row per member — the LATEST claim by
      // service date, claim id as the deterministic tie-break
      graft.operators.GenericTests.latestPerKey(
        table(s, d, "orders").select(
          col("o_custkey").cast("long").as("member_id"),
          col("o_orderkey").cast("long").as("claim_id"),
          col("o_orderdate").cast("date").as("service_date"),
          col("o_orderstatus").as("status")),
        Seq("member_id"), col("service_date"), col("claim_id")),
      Some(
        """SELECT member_id, claim_id, service_date, status FROM (
          |  SELECT CAST(o_custkey AS BIGINT) AS member_id, CAST(o_orderkey AS BIGINT) AS claim_id,
          |         CAST(o_orderdate AS DATE) AS service_date, o_orderstatus AS status,
          |         row_number() OVER (PARTITION BY o_custkey
          |           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          |  FROM orders) t WHERE rn = 1""".stripMargin)),

    QueryDef("q82_delete_insert_scoped", (s, d) => {
      // I3 with incremental_predicates (merge.sql:57-92): the DELETE is
      // scoped to recent rows — an out-of-scope row with a matching key
      // SURVIVES, the in-scope match is replaced, new keys insert
      val base = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("claim_id"),
        col("o_custkey").cast("long").as("member_id"),
        col("o_orderdate").cast("date").as("service_date"),
        col("o_orderstatus").as("status"))
      val tgt = base.filter(col("service_date") < lit("1998-01-01").cast("date"))
      val src = base.filter(col("service_date") >= lit("1997-01-01").cast("date"))
        .withColumn("status", lit("R"))
      Incremental.deleteInsert(tgt, src, Seq("claim_id"),
        incrementalPredicates = Seq(col("service_date") >= lit("1997-07-01").cast("date")))
    }, Some(
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS claim_id, CAST(o_custkey AS BIGINT) AS member_id,
        |         CAST(o_orderdate AS DATE) AS service_date, o_orderstatus AS status
        |  FROM orders),
        |tgt AS (SELECT * FROM base WHERE service_date < DATE '1998-01-01'),
        |src AS (SELECT claim_id, member_id, service_date, 'R' AS status FROM base
        |        WHERE service_date >= DATE '1997-01-01')
        |SELECT * FROM tgt
        |WHERE service_date < DATE '1997-07-01'
        |   OR claim_id NOT IN (SELECT claim_id FROM src)
        |UNION ALL
        |SELECT * FROM src""".stripMargin)),

    QueryDef("q83_merge_update_columns", (s, d) => {
      // I2 merge_update_columns (merge.sql:12-14): only the LISTED columns
      // take source values on a key match; everything else keeps the
      // target's value. New keys insert whole rows.
      val base = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("claim_id"),
        col("o_custkey").cast("long").as("member_id"),
        col("o_orderdate").cast("date").as("service_date"),
        col("o_orderstatus").as("status"))
      val tgt = base.filter(col("service_date") < lit("1998-01-01").cast("date"))
      val src = base.filter(col("service_date") >= lit("1997-01-01").cast("date"))
        .withColumn("status", lit("R"))
        .withColumn("member_id", col("member_id") + 9000000L)
      Incremental.merge(tgt, src, Seq("claim_id"),
        updateCols = Some(Seq("status")))
    }, Some(
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS claim_id, CAST(o_custkey AS BIGINT) AS member_id,
        |         CAST(o_orderdate AS DATE) AS service_date, o_orderstatus AS status
        |  FROM orders),
        |tgt AS (SELECT * FROM base WHERE service_date < DATE '1998-01-01'),
        |src AS (SELECT claim_id, member_id + 9000000 AS member_id, service_date, 'R' AS status
        |        FROM base WHERE service_date >= DATE '1997-01-01')
        |SELECT t.claim_id, t.member_id, t.service_date, 'R' AS status
        |FROM tgt t WHERE t.claim_id IN (SELECT claim_id FROM src)
        |UNION ALL
        |SELECT t.* FROM tgt t WHERE t.claim_id NOT IN (SELECT claim_id FROM src)
        |UNION ALL
        |SELECT s.* FROM src s WHERE s.claim_id NOT IN (SELECT claim_id FROM tgt)""".stripMargin)),

    QueryDef("q84_bucketed_merge", (s, d) => {
      // the 100 TB stable-key merge path through the DRIVER GATE (VERDICT r3
      // item 4): a bucketed catalog target takes two merge batches through
      // the alternating-generation catalog swap (mergeBucketed exercises
      // BOTH generation directions); the final table must hash-match the
      // declarative merge result
      val wh = Scratch.warehouse("q84", d, s, Seq("q84_bkt_claims"))
      val tbl = "q84_bkt_claims"
      val base = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("claim_id"),
        col("o_custkey").cast("long").as("member_id"),
        col("o_orderdate").cast("date").as("service_date"),
        col("o_orderstatus").as("status"))
      wh.writeBucketed(tbl,
        base.filter(col("service_date") < lit("1998-01-01").cast("date")),
        Seq("claim_id"), nBuckets = 8)
      wh.mergeBucketed(tbl,
        base.filter(col("service_date") >= lit("1997-06-01").cast("date"))
          .withColumn("status", lit("R")),
        Seq("claim_id"), nBuckets = 8)
      wh.mergeBucketed(tbl,
        base.filter(col("service_date") >= lit("1998-03-01").cast("date"))
          .withColumn("status", lit("X")),
        Seq("claim_id"), nBuckets = 8)
      s.table(tbl)
    }, Some(
      """SELECT CAST(o_orderkey AS BIGINT) AS claim_id, CAST(o_custkey AS BIGINT) AS member_id,
        |       CAST(o_orderdate AS DATE) AS service_date,
        |       CASE WHEN o_orderdate >= DATE '1998-03-01' THEN 'X'
        |            WHEN o_orderdate >= DATE '1997-06-01' THEN 'R'
        |            ELSE o_orderstatus END AS status
        |FROM orders""".stripMargin)),

    QueryDef("q85_upsert_partitioned", (s, d) => {
      // the long-running-stream upsert path through the driver gate: a
      // key-hash-bucket partitioned target absorbs two batches with
      // cross-cutting key sets (date-sliced, then member-sliced — the second
      // touches most buckets), each rewriting only its touched buckets; the
      // stored read-back must hash-match the declarative two-step merge
      val wh = Scratch.warehouse("q85", d, s, Seq("q85_claims"))
      val base = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("claim_id"),
        col("o_custkey").cast("long").as("member_id"),
        col("o_orderdate").cast("date").as("service_date"),
        col("o_orderstatus").as("status"))
      wh.upsertPartitioned("q85_claims", base, Seq("claim_id"), nBuckets = 16)
      wh.upsertPartitioned("q85_claims",
        base.filter(col("service_date") >= lit("1997-06-01").cast("date"))
          .withColumn("status", lit("R")),
        Seq("claim_id"), nBuckets = 16)
      wh.upsertPartitioned("q85_claims",
        base.filter(col("member_id") % 10 === 0).withColumn("status", lit("U")),
        Seq("claim_id"), nBuckets = 16)
      wh.read("q85_claims")
    }, Some(
      """SELECT CAST(o_orderkey AS BIGINT) AS claim_id, CAST(o_custkey AS BIGINT) AS member_id,
        |       CAST(o_orderdate AS DATE) AS service_date,
        |       CASE WHEN o_custkey % 10 = 0 THEN 'U'
        |            WHEN o_orderdate >= DATE '1997-06-01' THEN 'R'
        |            ELSE o_orderstatus END AS status
        |FROM orders""".stripMargin)),

    QueryDef("q90_jsonl_source", (s, _) => {
      // JSONL ingestion (the raw-corpus arrival format) with an EXPLICIT
      // pinned schema — no inference scan at 100 TB — and nested-field
      // flattening: struct member extraction + array ops in one projection
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("meta", StructType(Seq(
          StructField("quality", DoubleType),
          StructField("tags", ArrayType(StringType)))))))
      Sources.jsonl(s, JsonlPath, schema).select(
        col("doc_id"), col("text"), col("lang"),
        col("meta.quality").as("quality"),
        size(col("meta.tags")).cast("long").as("n_tags"),
        element_at(col("meta.tags"), 1).as("first_tag"))
    }, Some(
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang,
         |       CAST(meta.quality AS DOUBLE) AS quality,
         |       CAST(len(meta.tags) AS BIGINT) AS n_tags,
         |       meta.tags[1] AS first_tag
         |FROM read_json('$JsonlPath', format='newline_delimited',
         |  columns={doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR',
         |           meta: 'STRUCT(quality DOUBLE, tags VARCHAR[])'})""".stripMargin)),

    QueryDef("q63_sql_runner", (s, d) => {
      // S10 introspective query runner: relations registered as temp views,
      // ad-hoc SQL executed against them (`dbt show` / run-operation analog)
      table(s, d, "nation").createOrReplaceTempView("nation_v")
      table(s, d, "region").createOrReplaceTempView("region_v")
      s.sql(
        """SELECT r.r_name AS region_name, CAST(count(*) AS BIGINT) AS n_nations
          |FROM nation_v n JOIN region_v r ON n.n_regionkey = r.r_regionkey
          |GROUP BY r.r_name""".stripMargin)
    }, Some(
      """SELECT r.r_name AS region_name, CAST(count(*) AS BIGINT) AS n_nations
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name""".stripMargin)),

    QueryDef("q155_hooks_audit", (s, d) => {
      // model/run hooks (dbt pre_hook/post_hook + on-run-start/on-run-end;
      // dbt-snowflake incremental.sql:74-76,172-182): a full run's hook
      // firings land as audit rows in a warehouse table — the classic
      // audit-insert post-hook — and the stored audit is the hash-compared
      // result. Counts, not wall-clock, so the audit is engine-exact.
      import graft.engine.{Hook, HookContext, TableMat}
      implicit val sp: org.apache.spark.sql.SparkSession = s
      import sp.implicits._
      val wh = Scratch.warehouse("q155", d, s, Seq("mart_recent", "audit_log"))
      def audit(event: String, n: Long): Unit =
        wh.append("audit_log", Seq((event, n)).toDF("event", "n"))
      val reg = new Registry(s, wh)
      reg.onRunStart(_ => audit("on_run_start", -1L))
      reg.onRunEnd(ctx => audit("on_run_end", ctx.wh.read("mart_recent").count()))
      reg.source("orders_src", table(s, d, "orders"))
      reg.register(Model("mart_recent", Seq("orders_src"), TableMat(),
        ctx => ctx.ref("orders_src")
          .filter(col("o_orderdate") >= lit("1998-01-01").cast("date"))
          .select(col("o_orderkey").cast("long").as("id"), col("o_orderstatus").as("st")),
        preHooks = Seq(ctx =>
          audit("pre:mart_recent", ctx.relation.map(_.count()).getOrElse(-1L))),
        postHooks = Seq(ctx =>
          audit("post:mart_recent", ctx.relation.get.count()))))
      reg.run()
      wh.read("audit_log")
    }, Some(
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM orders
        |           WHERE o_orderdate >= DATE '1998-01-01')
        |SELECT 'on_run_start' AS event, CAST(-1 AS BIGINT) AS n
        |UNION ALL SELECT 'pre:mart_recent', -1
        |UNION ALL SELECT 'post:mart_recent', c FROM n
        |UNION ALL SELECT 'on_run_end', c FROM n""".stripMargin)),

    QueryDef("q172_node_selection", (s, d) => {
      // dbt node-selection syntax (Registry.resolveSelector): a full run
      // builds staging + two marts; the source then REFRESHES and a
      // selector-scoped `tag:mart` re-run rebuilds ONLY the tagged mart.
      // The result proves both halves of the semantics at once: the mart
      // re-ran (n_builds = 2 from its post-hook audit) AND it deferred to
      // the PREVIOUS run's staging relation rather than re-running staging
      // against the refreshed source (totals still reflect the run-1
      // <1998-01-01 slice; a broken selector that re-ran staging would
      // hash-mismatch every total).
      import graft.engine.TableMat
      implicit val sp: org.apache.spark.sql.SparkSession = s
      import sp.implicits._
      val wh = Scratch.warehouse("q172", d, s,
        Seq("stg_orders", "mart_member_totals", "mart_status_counts", "mart_audit"))
      val reg = new Registry(s, wh)
      reg.source("orders_src",
        table(s, d, "orders").filter(col("o_orderdate") < lit("1998-01-01").cast("date")))
      reg.register(Model("stg_orders", Seq("orders_src"), TableMat(),
        ctx => ctx.ref("orders_src").select(
          col("o_orderkey").cast("long").as("id"),
          col("o_custkey").cast("long").as("member_id"),
          col("o_totalprice").as("amt"))))
      reg.register(Model("mart_member_totals", Seq("stg_orders"), TableMat(),
        ctx => ctx.ref("stg_orders").groupBy(col("member_id"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("amt").cast("decimal(18,2)")).cast("double").as("total_amt")),
        postHooks = Seq(ctx =>
          ctx.wh.append("mart_audit", Seq(("built", 1L)).toDF("event", "n"))),
        tags = Seq("mart")))
      reg.register(Model("mart_status_counts", Seq("stg_orders"), TableMat(),
        ctx => ctx.ref("stg_orders").groupBy(col("id") % 7).count(),
        tags = Seq("meta")))
      reg.run()
      // source refreshes; slim re-run touches only the tagged mart
      reg.source("orders_src", table(s, d, "orders"))
      reg.run(selector = "tag:mart")
      wh.read("mart_member_totals")
        .withColumn("n_builds", lit(wh.read("mart_audit").count()))
    }, Some(
      """SELECT CAST(o_custkey AS BIGINT) AS member_id,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amt,
        |       CAST(2 AS BIGINT) AS n_builds
        |FROM orders WHERE o_orderdate < DATE '1998-01-01'
        |GROUP BY 1""".stripMargin)),

    QueryDef("q177_pipeline_dag", (s, d) => {
      // the LLM corpus pipeline AS a dbt DAG: staging view -> quality gate
      // -> exact-dedup canonicalization -> deterministic sample, each a
      // tagged Registry model, driven by one selector run — proving the
      // runner surface (§2.1/§3) and the pipeline operators compose. The
      // stored sample is the hash-compared result; every stage's logic has
      // its own oracle elsewhere (q30/q32/q33/q67), this one pins the
      // COMPOSITION through the materialization layer.
      import graft.engine.{TableMat, ViewMat}
      import org.apache.spark.sql.expressions.Window
      import graft.pipeline.{Sampling, TextAnalysis => TA}
      val stops = Seq("the", "a", "of", "and", "in")
      val wh = Scratch.warehouse("q177", d, s,
        Seq("corpus_gate", "corpus_canon", "corpus_sample"))
      val reg = new Registry(s, wh)
      reg.source("docs_src", table(s, d, "documents"))
      reg.register(Model("stg_docs", Seq("docs_src"), ViewMat, ctx =>
        ctx.ref("docs_src").filter(col("text").isNotNull)
          .select(col("doc_id").cast("long").as("doc_id"), col("source"),
            TA.tokenCount(col("text")).as("ntok"),
            TA.fingerprint(col("text")).as("fp"),
            floor(TA.qualityScore(col("text"), stops) * 100).cast("long").as("q"))))
      reg.register(Model("corpus_gate", Seq("stg_docs"), TableMat(),
        ctx => ctx.ref("stg_docs").filter(col("q") >= 30 && col("ntok") >= 20),
        tags = Seq("clean")))
      reg.register(Model("corpus_canon", Seq("corpus_gate"), TableMat(),
        ctx => {
          val w = Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)
          ctx.ref("corpus_gate").withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        }, tags = Seq("clean")))
      reg.register(Model("corpus_sample", Seq("corpus_canon"), TableMat(),
        ctx => Sampling.hashSample(ctx.ref("corpus_canon"), col("doc_id"),
          fraction = 0.5, salt = "dag8").drop("fp"),
        tags = Seq("sample")))
      reg.run(selector = "@stg_docs")
      wh.read("corpus_sample")
    }, Some {
      val toks = "string_split(text, ' ')"
      val stopsSql = "'the', 'a', 'of', 'and', 'in'"
      val qSql =
        s"""least(CAST(1.0 AS DOUBLE), CAST(len($toks) AS DOUBLE) / CAST(100.0 AS DOUBLE))
           | * (CAST(1.0 AS DOUBLE) - CAST(len(list_filter($toks, t -> t IN ($stopsSql))) AS DOUBLE)
           |      / CAST(len($toks) AS DOUBLE))""".stripMargin
      s"""WITH stg AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         |         CAST(len($toks) AS BIGINT) AS ntok,
         |         md5(lower(regexp_replace(text, ' +', ' ', 'g'))) AS fp,
         |         CAST(floor(($qSql) * 100) AS BIGINT) AS q
         |  FROM documents WHERE text IS NOT NULL),
         |gate AS (SELECT * FROM stg WHERE q >= 30 AND ntok >= 20),
         |canon AS (SELECT * FROM (
         |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) AS rn
         |  FROM gate) x WHERE rn = 1)
         |SELECT doc_id, source, ntok, q FROM canon
         |WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|dag8'), 1, 8))::BIGINT
         |       % 1000000) < 500000""".stripMargin
    }),

    QueryDef("q156_clone_relation", (s, d) => {
      // S9 clone (dbt-adapters clone.sql): hard-link clone of a materialized
      // table, then the SOURCE is overwritten — the clone must still serve
      // the point-in-time content (zero-copy snapshot independence)
      import graft.engine.TableMat
      val wh = Scratch.warehouse("q156", d, s, Seq("base_claims", "base_claims_clone"))
      val reg = new Registry(s, wh)
      reg.source("orders_src", table(s, d, "orders"))
      reg.register(Model("base_claims", Seq("orders_src"), TableMat(),
        ctx => ctx.ref("orders_src")
          .filter(col("o_orderdate") >= lit("1998-06-01").cast("date"))
          .select(col("o_orderkey").cast("long").as("id"),
            col("o_custkey").cast("long").as("member_id"),
            col("o_orderdate").as("service_date"))))
      reg.run()
      reg.cloneRelation("base_claims", "base_claims_clone")
      // the source moves on; the clone is the frozen point-in-time copy
      wh.writeSwap("base_claims",
        wh.read("base_claims_clone").filter(col("id") % 2 === 0))
      wh.read("base_claims_clone")
    }, Some(
      """SELECT CAST(o_orderkey AS BIGINT) AS id, CAST(o_custkey AS BIGINT) AS member_id,
        |       o_orderdate AS service_date
        |FROM orders WHERE o_orderdate >= DATE '1998-06-01'""".stripMargin)),

    QueryDef("q184_catalog", (s, d) => {
      // dbt docs-generate catalog (Registry.catalog): a three-node DAG is
      // run, then the catalog artifact — one row per (node, column) with
      // deps / materialization / tags / test count / persisted doc joined
      // to the ACTUAL materialized schema — is the hash-compared result.
      // The oracle re-declares the expected catalog as literals: any drift
      // in schema capture, dep wiring, or doc persistence hash-mismatches.
      import graft.engine.{ModelTest, TableMat, ViewMat}
      val wh = Scratch.warehouse("q184", d, s, Seq("mart_totals"))
      val reg = new Registry(s, wh)
      reg.source("orders_src", table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("order_id"),
        col("o_custkey").cast("long").as("member_id"),
        col("o_totalprice").cast("double").as("amt"),
        col("o_orderdate").cast("date").as("odate")))
      reg.register(Model("stg_orders", Seq("orders_src"), ViewMat,
        ctx => ctx.ref("orders_src")
          .filter(col("odate") >= lit("1997-01-01").cast("date")),
        docs = Some("orders 1997 onward"), tags = Seq("staging")))
      reg.register(Model("mart_totals", Seq("stg_orders"), TableMat(),
        ctx => ctx.ref("stg_orders").groupBy(col("member_id"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("amt").cast("decimal(18,2)")).cast("double").as("total_amt")),
        tests = Seq(ModelTest("unique_member",
          df => df.groupBy(col("member_id")).count().filter(col("count") > 1))),
        docs = Some("order totals per member"),
        tags = Seq("mart", "monthly")))
      reg.run()
      reg.catalog()
    }, Some {
      def node(n: String, mat: String, deps: String, tags: String,
          nTests: Int, doc: String, cols: Seq[(String, String)]): String =
        cols.zipWithIndex.map { case ((cn, ct), i) =>
          s"SELECT '$n' AS node_name, '$mat' AS materialization, " +
            s"'$deps' AS deps, '$tags' AS tags, CAST($nTests AS BIGINT) AS n_tests, " +
            s"$doc AS doc, CAST($i AS BIGINT) AS column_index, " +
            s"'$cn' AS column_name, '$ct' AS column_type"
        }.mkString("\nUNION ALL ")
      val srcCols = Seq("order_id" -> "bigint", "member_id" -> "bigint",
        "amt" -> "double", "odate" -> "date")
      Seq(
        node("mart_totals", "table", "stg_orders", "mart,monthly", 1,
          "'order totals per member'",
          Seq("member_id" -> "bigint", "n_orders" -> "bigint",
            "total_amt" -> "double")),
        node("orders_src", "source", "", "", 0, "CAST(NULL AS VARCHAR)", srcCols),
        node("stg_orders", "view", "orders_src", "staging", 0,
          "'orders 1997 onward'", srcCols)
      ).mkString("\nUNION ALL ")
    }),

    // §2.10 streaming ops, oracle-gated (VERDICT r7 next-8): each runs the
    // REAL streaming operator graph over the events file source with
    // Trigger.AvailableNow (same code path as a live source) and
    // hash-compares the terminal state against a batch-SQL oracle. The one
    // op left spec-only is funnelStream: its buffered steps finalize only
    // when a LATER batch advances the watermark past them, which a
    // single-file AvailableNow source cannot provide — StreamingSpec
    // drives it with a multi-batch MemoryStream instead (stream == batch
    // pinned there).

    QueryDef("q157_stream_dedup", (s, d) => {
      // dedup-on-ingest: first occurrence per key wins inside the
      // watermark horizon. Only the KEY columns are emitted — which
      // physical duplicate row survives is arrival-order-dependent, the
      // kept key set is not.
      import graft.streaming.EventsStream
      val deduped = EventsStream.dedupStream(
        EventsStream.readEvents(s, d), Seq("user_id", "event_type"),
        "ts", "2 hours")
        .select(col("user_id"), col("event_type"))
      EventsStream.runToBatchAppend(s, deduped, "q157_sink")
    }, Some(
      "SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id, event_type FROM events")),

    QueryDef("q158_stream_enrich", (s, d) => {
      // stream-static broadcast enrichment; left join so facts with no dim
      // row flow through with NULL attributes
      import graft.streaming.EventsStream
      val dim = table(s, d, "customer")
        .select(col("c_custkey").cast("long").as("user_id"),
          col("c_mktsegment").as("segment"))
      val enriched = EventsStream.enrichStream(
        EventsStream.readEvents(s, d), dim, Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("segment"))
      EventsStream.runToBatchAppend(s, enriched, "q158_sink")
    }, Some(
      """SELECT CAST(e.event_id AS BIGINT) AS event_id,
        |       CAST(e.user_id AS BIGINT) AS user_id, c.c_mktsegment AS segment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin)),

    QueryDef("q159_stream_timebound_join", (s, d) => {
      // stream-stream inner join bounded by an event-time range (the
      // attribution shape); the range bound is what lets Spark evict state
      import graft.streaming.EventsStream
      def side(prefix: String, eventType: String) =
        EventsStream.readEvents(s, d).filter(col("event_type") === eventType)
          .select(col("user_id").as(s"${prefix}_key"), col("ts").as(s"${prefix}_ts"),
            col("event_id").as(s"${prefix}_event_id"))
      val joined = EventsStream.timeBoundJoin(
        side("l", "view"), side("r", "click"),
        withinSeconds = 3600, watermark = "2 hours")
        .select(col("l_event_id"), col("r_event_id"))
      // state parallelism sized to the ~40k-row join state, not the batch
      // shuffle width (EventsStream.withStatePartitions doc; 2.3x here)
      EventsStream.withStatePartitions(s, 8)(
        EventsStream.runToBatchAppend(s, joined, "q159_sink"))
    }, Some(
      """SELECT CAST(l.event_id AS BIGINT) AS l_event_id,
        |       CAST(r.event_id AS BIGINT) AS r_event_id
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND l.event_type = 'view' AND r.event_type = 'click'
        | AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR""".stripMargin)),

    QueryDef("q250_stream_timebound_outer", (s, d) => {
      // stream-stream LEFT OUTER time-bound join: views with no click
      // inside the hour emit NULL — but only after the watermark passes
      // their window. Terminal state under AvailableNow is deterministic:
      // the closing no-data batch advances the watermark to
      // min(max view ts, max click ts) - 2h (ms-truncated), so the oracle
      // re-derives exactly which unmatched views finalized.
      import graft.streaming.EventsStream
      def side(prefix: String, eventType: String) =
        EventsStream.readEvents(s, d).filter(col("event_type") === eventType)
          .select(col("user_id").as(s"${prefix}_key"), col("ts").as(s"${prefix}_ts"),
            col("event_id").as(s"${prefix}_event_id"))
      val joined = EventsStream.timeBoundJoinOuter(
        side("l", "view"), side("r", "click"),
        withinSeconds = 3600, watermark = "2 hours")
        .select(col("l_event_id"), col("r_event_id"))
      EventsStream.withStatePartitions(s, 8)(
        EventsStream.runToBatchAppend(s, joined, "q250_sink"))
    }, Some(
      """WITH wm AS (
        |  SELECT least((SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'view'),
        |               (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'click'))
        |         - 7200000 AS w_ms),
        |v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |matched AS (
        |  SELECT v.event_id AS l_event_id, c.event_id AS r_event_id, v.ts, v.user_id
        |  FROM v JOIN c ON v.user_id = c.user_id
        |   AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR)
        |SELECT CAST(l_event_id AS BIGINT) AS l_event_id,
        |       CAST(r_event_id AS BIGINT) AS r_event_id
        |FROM matched
        |UNION ALL
        |SELECT CAST(v.event_id AS BIGINT), CAST(NULL AS BIGINT)
        |FROM v, wm
        |WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.l_event_id = v.event_id)
        |  AND epoch_us(v.ts) + 3600000000 < wm.w_ms * 1000""".stripMargin)),

    QueryDef("q313_stream_drift", (s, d) => {
      // streaming distribution-drift monitor: per event-time hour the live
      // value distribution binned against fixed edges as a windowed
      // streaming aggregate (state <= bins per open window), then the
      // binned one-sample KS distance vs a fixed reference CDF rolled up
      // from the materialized registers — maintain counts in the stream,
      // derive the statistic at read time. Absent bins densify to zero
      // (a starved bin IS drift). Oracle replays bin/cum/max from batch.
      import graft.streaming.EventsStream
      val regs = EventsStream.driftRegisters(
        EventsStream.readEvents(s, d), binEdgesCents = Seq(1000L, 2000L, 3000L, 5000L, 8000L))
      val stored = EventsStream.runToBatch(s, regs, "q313_regs")
      EventsStream.driftFromRegisters(stored,
        refCdfPpm = Seq(200000L, 400000L, 550000L, 700000L, 850000L, 1000000L))
    }, Some(
      """WITH v AS (
        |  SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour_start,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |b AS (SELECT hour_start,
        |             (CASE WHEN cents > 1000 THEN 1 ELSE 0 END +
        |              CASE WHEN cents > 2000 THEN 1 ELSE 0 END +
        |              CASE WHEN cents > 3000 THEN 1 ELSE 0 END +
        |              CASE WHEN cents > 5000 THEN 1 ELSE 0 END +
        |              CASE WHEN cents > 8000 THEN 1 ELSE 0 END) AS bin
        |      FROM v),
        |r AS (SELECT hour_start, bin, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2),
        |dense AS (
        |  SELECT h.hour_start, bn.bin, coalesce(r.n, 0) AS n
        |  FROM (SELECT DISTINCT hour_start FROM r) h
        |  CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS bin) bn
        |  LEFT JOIN r ON r.hour_start = h.hour_start AND r.bin = bn.bin),
        |c AS (SELECT hour_start, bin, n,
        |             CAST(sum(n) OVER (PARTITION BY hour_start ORDER BY bin) AS BIGINT) AS cum,
        |             CAST(sum(n) OVER (PARTITION BY hour_start) AS BIGINT) AS tot
        |      FROM dense)
        |SELECT hour_start, CAST(max(tot) AS BIGINT) AS n,
        |       CAST(max(abs(cum * 1000000 // tot -
        |                    CASE bin WHEN 0 THEN 200000 WHEN 1 THEN 400000
        |                             WHEN 2 THEN 550000 WHEN 3 THEN 700000
        |                             WHEN 4 THEN 850000 ELSE 1000000 END)) AS BIGINT)
        |         AS d_ppm
        |FROM c GROUP BY 1""".stripMargin)),

    QueryDef("q160_stream_agg", (s, d) => {
      // unbounded-key streaming aggregate state: per-batch partials
      // sum-combined into a stored rollup (integer cents — exact under any
      // batch split, unlike double addition)
      import graft.streaming.EventsStream
      val wh = Scratch.warehouse("q160", d, s, Seq("evt_rollup"))
      val q = EventsStream.aggStream(
        EventsStream.readEvents(s, d), wh, "evt_rollup",
        Seq("event_type"), Seq("n" -> "sum", "cents" -> "sum")) { batch =>
        batch.groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          sum(floor(col("value") * 100).cast("long")).as("cents"))
      }
      q.awaitTermination()
      wh.read("evt_rollup")
    }, Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1""".stripMargin)),

    QueryDef("q191_stream_funnel", (s, d) => {
      // the LAST §2.10 op without an oracle row (r8 accepted a documented
      // limitation; this closes it): funnelStream's terminal state IS
      // deterministic under a single-file AvailableNow source — the data
      // batch buffers every step (watermark 0), then the no-data batch
      // fires the event-time timeouts at watermark = max(ts) - 2h and
      // folds exactly the steps at-or-below it (ms-truncated, the
      // engine's watermark precision). Update-mode emissions upsert into
      // a bucketed warehouse table, latest row per user wins; the oracle
      // is the q104 batch funnel with step events clipped at the final
      // watermark and the user universe unclipped (non-step passthrough
      // surfaces every user at reached 0).
      import graft.streaming.EventsStream
      implicit val sp: org.apache.spark.sql.SparkSession = s
      val wh = Scratch.warehouse("q191", d, s, Seq("q191_funnel"))
      Scratch.resetCheckpoint(wh, "q191_funnel")
      val prog = EventsStream.funnelStream(EventsStream.readEvents(s, d),
        Seq("view", "click", "purchase"))
      // user-count state, not corpus state: size the stores to it (q159/q185)
      val q = EventsStream.withStatePartitions(s, 8)(
        prog.toDF().writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
          .option("checkpointLocation", s"${wh.root}/_checkpoints/q191_funnel")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            wh.upsertPartitioned("q191_funnel", b, Seq("user_id"), nBuckets = 16)
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start())
      q.awaitTermination()
      wh.read("q191_funnel").select(col("user_id"), col("reached"))
    }, Some(
      """WITH wm AS (SELECT (epoch_us(max(CAST(ts AS TIMESTAMP))) // 1000 - 7200000) * 1000 AS hus
        |            FROM events),
        |se AS (SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
        |              epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |       FROM events, wm WHERE epoch_us(CAST(ts AS TIMESTAMP)) <= wm.hus),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM se WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(us) AS t2 FROM se e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND us > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(us) AS t3 FROM se e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > t2 GROUP BY 1)
        |SELECT u.user_id,
        |       CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |                 WHEN t2 IS NOT NULL THEN 2
        |                 WHEN t1 IS NOT NULL THEN 1
        |                 ELSE 0 END AS INTEGER) AS reached
        |FROM (SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id FROM events) u
        |LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)""".stripMargin)),

    QueryDef("q354_stream_burst", (s, d) => {
      // streaming rate-limit alerts (burstAlertStream): per-user sliding
      // 1h/15m counts; append mode emits each window once the watermark
      // passes its end, so alerts are immutable facts and the sink is a
      // pure warehouse APPEND. Oracle = the finalized-window batch twin
      // (window.end <= max(ts) - 2h, the q185 eviction contract).
      import graft.streaming.EventsStream
      val wh = Scratch.warehouse("q354", d, s, Seq("q354_burst"))
      Scratch.resetCheckpoint(wh, "q354_burst")
      EventsStream.withStatePartitions(s, 8)(
        EventsStream.burstAlertStream(EventsStream.readEvents(s, d), wh,
          "q354_burst", threshold = 2L)).awaitTermination()
      wh.read("q354_burst")
    }, Some(
      """WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mt FROM events),
        |off AS (SELECT unnest([0, 1, 2, 3]) AS k),
        |w AS (SELECT CAST(user_id AS BIGINT) AS user_id,
        |             make_timestamp((CAST(floor(epoch_us(CAST(ts AS TIMESTAMP))
        |                                        / 900000000.0) AS BIGINT) - k)
        |                            * CAST(900000000 AS BIGINT)) AS win_start
        |      FROM events, off WHERE user_id IS NOT NULL),
        |c AS (SELECT win_start, user_id, CAST(count(*) AS BIGINT) AS n_events
        |      FROM w GROUP BY 1, 2),
        |fin AS (SELECT c.* FROM c, mx
        |        WHERE win_start + INTERVAL 1 HOUR <= mt - INTERVAL 2 HOUR)
        |SELECT CAST(win_start AS TIMESTAMP) AS win_start, user_id, n_events
        |FROM fin WHERE n_events >= 2""".stripMargin)),

    QueryDef("q185_stream_trending", (s, d) => {
      // materialized streaming "trending now" (EventsStream.trendingStream):
      // append-mode sliding windows finalize when the watermark passes
      // window end, and each micro-batch re-ranks the warehouse table to
      // top-k per window. Only FINALIZED windows land — the oracle mirrors
      // the watermark contract exactly: windows with end <= max(ts) - 2h
      // (Spark's append-mode eviction predicate is window.end <=
      // watermark), ranked by (n_events DESC, event_type ASC).
      import graft.streaming.EventsStream
      val wh = Scratch.warehouse("q185", d, s, Seq("q185_trending"))
      Scratch.resetCheckpoint(wh, "q185_trending")
      // modest window-count state: size the state stores to the state, not
      // the session's batch shuffle width (withStatePartitions doc; q159)
      EventsStream.withStatePartitions(s, 8)(
        EventsStream.trendingStream(EventsStream.readEvents(s, d), wh,
          "q185_trending", k = 3)).awaitTermination()
      wh.read("q185_trending")
    }, Some(
      """WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mt FROM events),
        |off AS (SELECT unnest([0, 1]) AS k),
        |w AS (SELECT event_type,
        |             make_timestamp((CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 1800000000.0) AS BIGINT) - k)
        |                            * CAST(1800000000 AS BIGINT)) AS win_start
        |      FROM events, off),
        |c AS (SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n_events
        |      FROM w GROUP BY 1, 2),
        |fin AS (SELECT c.* FROM c, mx
        |        WHERE win_start + INTERVAL 1 HOUR <= mt - INTERVAL 2 HOUR)
        |SELECT CAST(win_start AS TIMESTAMP) AS win_start, event_type, n_events
        |FROM (SELECT *, row_number() OVER (PARTITION BY win_start
        |        ORDER BY n_events DESC, event_type ASC) AS rn FROM fin)
        |WHERE rn <= 3""".stripMargin)),

    QueryDef("q164_function_model", (s, d) => {
      // dbt `function` materialization (dbt-snowflake functions/scalar.sql):
      // a model materializes a scalar SQL UDF; the downstream model calls
      // it from SQL and Catalyst inlines the body into the caller's plan
      import graft.engine.{FunctionMat, TableMat}
      val wh = Scratch.warehouse("q164", d, s, Seq("order_bands"))
      val reg = new Registry(s, wh)
      reg.source("orders_src", table(s, d, "orders"))
      reg.register(Model("q164_price_band", Nil, FunctionMat(
        "p DOUBLE", "STRING",
        "CASE WHEN p < 50000 THEN 'low' WHEN p < 150000 THEN 'mid' ELSE 'high' END"),
        ctx => ctx.spark.emptyDataFrame))
      reg.register(Model("order_bands", Seq("orders_src", "q164_price_band"),
        TableMat(), ctx => {
          ctx.ref("orders_src").createOrReplaceTempView("q164_orders_tv")
          ctx.spark.sql("SELECT CAST(o_orderkey AS BIGINT) AS id, " +
            "q164_price_band(o_totalprice) AS band FROM q164_orders_tv")
        }))
      reg.run()
      wh.read("order_bands")
    }, Some(
      """SELECT CAST(o_orderkey AS BIGINT) AS id,
        |       CASE WHEN o_totalprice < 50000 THEN 'low'
        |            WHEN o_totalprice < 150000 THEN 'mid'
        |            ELSE 'high' END AS band
        |FROM orders""".stripMargin)),

    QueryDef("q240_registry_unit_test", (s, d) => {
      // dbt 1.8 unit test at the RUNNER level: the model's build runs
      // against a MOCKED ref (given), the result diffs against an
      // expectation covering a SUBSET of output columns, and failures
      // surface as side-tagged rows. The expectation here deliberately
      // inflates status 'P' by one so the diff relation is non-empty and
      // deterministic: one 'actual' row with the true count, one
      // 'expected' row with the tampered count.
      import graft.engine.{Model, ViewMat}
      val wh = Scratch.warehouse("q240", d, s, Seq.empty)
      val reg = new Registry(s, wh)
      reg.register(Model("order_rollup", Seq("orders_src"), ViewMat,
        ctx => ctx.ref("orders_src")
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n_orders"),
            sum(graft.operators.Features.cents(col("o_totalprice")))
              .as("total_cents"))))
      val slice = table(s, d, "orders").filter(col("o_orderkey") < 100)
      val expect = slice
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"))
        .select(col("status"),
          (col("n_orders") + when(col("status") === "P", 1L).otherwise(0L))
            .as("n_orders"))
      reg.unitTest("order_rollup", Map("orders_src" -> slice), expect)
    }, Some(
      """WITH r AS (
        |  SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders WHERE o_orderkey < 100 GROUP BY 1)
        |SELECT status, n_orders, 'actual' AS side FROM r WHERE status = 'P'
        |UNION ALL
        |SELECT status, n_orders + 1 AS n_orders, 'expected' AS side
        |FROM r WHERE status = 'P'""".stripMargin)),

    QueryDef("q244_model_contract", (s, d) => {
      // dbt model contract (contract: enforced, dbt-core 1.5): the build's
      // schema must exactly match the declared (name, type) set before any
      // DML commits. This lifecycle run materializes a CONTRACTED table and
      // reads it back — the violation paths (missing/unexpected/retyped
      // columns fail pre-write) are pinned in RegistrySpec.
      import graft.engine.{Model, TableMat}
      val wh = Scratch.warehouse("q244", d, s, Seq("contracted_rollup"))
      val reg = new Registry(s, wh)
      reg.source("orders_src", table(s, d, "orders"))
      reg.register(Model("contracted_rollup", Seq("orders_src"), TableMat(),
        ctx => ctx.ref("orders_src")
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n_orders"),
            sum(graft.operators.Features.cents(col("o_totalprice")))
              .as("total_cents")),
        contract = Some(Seq("status" -> "string", "n_orders" -> "bigint",
          "total_cents" -> "bigint"))))
      reg.run()
      wh.read("contracted_rollup")
    }, Some(
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY 1""".stripMargin)),

    QueryDef("q246_merge_predicated", (s, d) => {
      // dbt incremental_predicates on merge (merge.sql:17-33): the batch
      // matches only the TARGET slice inside the predicate (orders from
      // 1998 on) — out-of-scope history passes through untouched, and a
      // batch key whose only target row is out of scope INSERTS a second
      // copy, exactly the documented dbt trade. Two-run registry
      // lifecycle: CTAS, then a doubled-cents batch for every 100th key.
      import graft.engine.{IncrementalMat, Model}
      val wh = Scratch.warehouse("q246", d, s, Seq("pred_merge"))
      val reg = new Registry(s, wh)
      reg.source("orders_src", table(s, d, "orders"))
      val cutoff = lit("1998-01-01 00:00:00").cast("timestamp")
      reg.register(Model("pred_merge", Seq("orders_src"),
        IncrementalMat(
          Incremental.MergePredicated(Seq(col("odate") >= cutoff)),
          uniqueKey = Seq("k")),
        ctx => {
          val base = ctx.ref("orders_src").select(
            col("o_orderkey").cast("long").as("k"),
            col("o_orderdate").cast("timestamp").as("odate"),
            graft.operators.Features.cents(col("o_totalprice")).as("cents"))
          if (ctx.isIncremental)
            base.filter(col("k") % 100 === 0)
              .withColumn("cents", col("cents") * 2)
          else base
        }))
      reg.run()  // CTAS
      reg.run()  // predicated merge
      wh.read("pred_merge")
    }, Some(
      """WITH t AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |         CAST(o_orderdate AS TIMESTAMP) AS odate,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT k, odate, cents * 2 AS cents FROM t WHERE k % 100 = 0)
        |SELECT k, odate, cents FROM t WHERE odate < TIMESTAMP '1998-01-01'
        |UNION ALL
        |SELECT sc.k, sc.odate, sc.cents FROM t sc
        |WHERE sc.odate >= TIMESTAMP '1998-01-01'
        |  AND sc.k NOT IN (SELECT k FROM b)
        |UNION ALL
        |SELECT k, odate, cents FROM b""".stripMargin)),

    QueryDef("q251_zorder_rewrite", (s, d) => {
      // OPTIMIZE ... ZORDER BY as a warehouse maintenance op: rewrite a
      // table along the Morton curve of (custkey, cents) through the swap
      // protocol — content provably identical (this oracle), 2-d locality
      // pinned in ScaleSpec (a second-dimension slab lands in fewer files
      // than the linear layout smears it over).
      val wh = Scratch.warehouse("q251", d, s, Seq("zorders"))
      wh.writeSwap("zorders", table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("order_key"),
        col("o_custkey").cast("long").as("custkey"),
        graft.operators.Features.cents(col("o_totalprice")).as("cents")))
      wh.rewriteZOrdered("zorders", "custkey", "cents")
      wh.read("zorders")
    }, Some(
      """SELECT CAST(o_orderkey AS BIGINT) AS order_key,
        |       CAST(o_custkey AS BIGINT) AS custkey,
        |       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |FROM orders""".stripMargin)),

    QueryDef("q252_exposures", (s, d) => {
      // dbt exposures: a declared dashboard consumer; `+exposure:name`
      // runs exactly its dependency closure (staging -> mart), and the
      // exposure surfaces in the docs metadata relation. Output: the
      // exposure catalog plus proof the selector built the chain.
      import graft.engine.{Model, TableMat, ViewMat}
      val wh = Scratch.warehouse("q252", d, s, Seq("rev_mart"))
      val reg = new Registry(s, wh)
      reg.source("orders_src", table(s, d, "orders"))
      reg.register(Model("stg_rev", Seq("orders_src"), ViewMat,
        ctx => ctx.ref("orders_src").select(col("o_orderstatus").as("status"),
          graft.operators.Features.cents(col("o_totalprice")).as("cents"))))
      reg.register(Model("rev_mart", Seq("stg_rev"), TableMat(),
        ctx => ctx.ref("stg_rev").groupBy(col("status"))
          .agg(sum(col("cents")).as("revenue_cents"))))
      reg.register(Model("unrelated", Seq("orders_src"), ViewMat,
        ctx => ctx.ref("orders_src").limit(1)))
      reg.registerExposure(reg.Exposure("weekly_revenue", "dashboard",
        "analytics-team", Seq("rev_mart"), url = Some("https://bi/rev")))
      val built = reg.run(selector = "+exposure:weekly_revenue")
      reg.exposures()
        .withColumn("mart_rows", lit(wh.read("rev_mart").count()))
        .withColumn("built_unrelated", lit(built.contains("unrelated")))
    }, Some(
      """SELECT 'weekly_revenue' AS exposure_name, 'dashboard' AS exposure_type,
        |       'analytics-team' AS owner, 'rev_mart' AS depends_on,
        |       'https://bi/rev' AS url, CAST(NULL AS VARCHAR) AS description,
        |       (SELECT CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders) AS mart_rows,
        |       false AS built_unrelated""".stripMargin)),

    QueryDef("q256_metric_layer", (s, d) => {
      // dbt metrics / semantic layer: revenue and order-count metrics
      // DECLARED once over the orders model, queried at month grain by
      // status, plus a ratio metric (average order value in exact
      // per-mille cents) — every consumer aggregates the same way because
      // the engine renders the rollup from the declaration.
      import graft.engine.{Model, ViewMat}
      val wh = Scratch.warehouse("q256", d, s, Seq.empty)
      val reg = new Registry(s, wh)
      reg.source("orders_src", table(s, d, "orders"))
      reg.register(Model("orders_model", Seq("orders_src"), ViewMat,
        ctx => ctx.ref("orders_src").select(
          col("o_orderstatus").as("status"),
          col("o_orderdate").cast("timestamp").as("odate"),
          graft.operators.Features.cents(col("o_totalprice")).as("cents"))))
      reg.run()
      reg.registerMetric(reg.Metric("revenue", "orders_model", "sum",
        Some("cents"), "odate", Seq("status")))
      reg.registerMetric(reg.Metric("orders", "orders_model", "count",
        None, "odate", Seq("status")))
      reg.registerRatioMetric(reg.RatioMetric("aov_milli", "revenue", "orders"))
      reg.queryMetric("revenue", "month", Seq("status"))
        .withColumnRenamed("value", "revenue_cents")
        .join(reg.queryMetric("aov_milli", "month", Seq("status"))
          .withColumnRenamed("value", "aov_milli_cents"),
          Seq("period", "status"))
    }, Some(
      """WITH base AS (
        |  SELECT o_orderstatus AS status,
        |         date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS period,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT period, status,
        |       CAST(sum(cents) AS BIGINT) AS revenue_cents,
        |       CAST((CAST(sum(cents) AS HUGEINT) * 1000) // count(*) AS BIGINT)
        |         AS aov_milli_cents
        |FROM base GROUP BY 1, 2""".stripMargin)),

    QueryDef("q259_dag_lint", (s, d) => {
      // dbt-project-evaluator-style DAG lint over a deliberately flawed
      // project: an undocumented untested table, a mart bypassing its
      // staging layer, and a source nothing reads — each check surfaces
      // exactly once, advisory only.
      import graft.engine.{Model, TableMat, ViewMat}
      val wh = Scratch.warehouse("q259", d, s, Seq.empty)
      val reg = new Registry(s, wh)
      reg.source("orders_src", table(s, d, "orders"))
      reg.source("dead_src", table(s, d, "nation"))
      reg.register(Model("stg_orders", Seq("orders_src"), ViewMat,
        ctx => ctx.ref("orders_src"), docs = Some("typed staging"),
        tests = Seq(graft.engine.ModelTest("not_null",
          df => df.filter(col("o_orderkey").isNull)))))
      reg.register(Model("bad_mart", Seq("orders_src"), TableMat(),
        ctx => ctx.ref("orders_src").groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"))))
      reg.lint()
    }, Some(
      """SELECT 'missing_description' AS check, 'bad_mart' AS node,
        |       'warn' AS severity,
        |       'model has no persisted description' AS detail
        |UNION ALL
        |SELECT 'missing_tests', 'bad_mart', 'warn',
        |       'eager materialization with no declared tests'
        |UNION ALL
        |SELECT 'staging_bypass', 'bad_mart', 'warn',
        |       'reads source ''orders_src'' directly although a staging model covers it'
        |UNION ALL
        |SELECT 'unused_source', 'dead_src', 'warn',
        |       'no model or exposure references this source'""".stripMargin)),

    QueryDef("q247_model_versions", (s, d) => {
      // dbt model versions (dbt-core 1.5 `versions:`): rollup v1 and v2
      // coexist as their own relations; the consumer depends on the BARE
      // base name and resolves to the latest (v2, which adds the cents
      // measure). Every version stays queryable — the output is the
      // consumer (built on v2) plus both version relations' row counts,
      // proving v1 materialized untouched beside it. The latest_version
      // pinning path (staged migration back to v1) is in RegistrySpec.
      import graft.engine.{Model, TableMat, ViewMat}
      val wh = Scratch.warehouse("q247", d, s,
        Seq("rollup__v1", "rollup__v2", "consumer"))
      val reg = new Registry(s, wh)
      reg.source("orders_src", table(s, d, "orders"))
      reg.registerVersion("rollup", 1, Model("rollup", Seq("orders_src"),
        TableMat(), ctx => ctx.ref("orders_src")
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n_orders"))))
      reg.registerVersion("rollup", 2, Model("rollup", Seq("orders_src"),
        TableMat(), ctx => ctx.ref("orders_src")
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n_orders"),
            sum(graft.operators.Features.cents(col("o_totalprice")))
              .as("total_cents"))))
      reg.register(Model("consumer", Seq("rollup"), TableMat(),
        ctx => ctx.ref("rollup").filter(col("n_orders") > 0)))
      reg.run()
      wh.read("consumer")
        .withColumn("v1_rows",
          lit(wh.read("rollup__v1").count()))
        .withColumn("v1_has_cents",
          lit(wh.read("rollup__v1").columns.contains("total_cents")))
    }, Some(
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
        |       (SELECT CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders) AS v1_rows,
        |       false AS v1_has_cents
        |FROM orders GROUP BY 1""".stripMargin)),

    QueryDef("q241_pit_scd2_join", (s, d) => {
      // Point-in-time join of a fact to SCD2 history — the "fact meets
      // slowly-changing dimension" pattern the reference's dim_member/
      // fct_claims stubs imply: each order resolves the customer segment
      // that was VALID at order time, not the current one. History from
      // the q55 two-run snapshot (members % 10 == 0 change segment at
      // t2 = 2000-02-01); orders BEFORE the first snapshot predate
      // history -> NULL (honest PIT semantics). Validity windows per key
      // are disjoint, so the equi-join on the member plus the window
      // filter yields at most one version per order; the join shuffles
      // on the member key only — history stays small per key at any
      // fact scale.
      val s1 = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("member_id"),
        col("c_mktsegment").as("segment"),
        lit(t1).as("updated_at"))
      val s2 = s1.select(col("member_id"),
        when(col("member_id") % 10 === 0, lit("CHANGED"))
          .otherwise(col("segment")).as("segment"),
        when(col("member_id") % 10 === 0, lit(t2))
          .otherwise(col("updated_at")).as("updated_at"))
      val hist = Snapshot.apply(
        Snapshot.firstRun(s1, Seq("member_id"), Snapshot.TimestampStrategy("updated_at")),
        s2, Seq("member_id"), Snapshot.TimestampStrategy("updated_at"),
        Snapshot.IgnoreDeletes, t2)
        .select(col("member_id"), col("segment"),
          col("dbt_valid_from").as("vf"), col("dbt_valid_to").as("vt"))
      val fact = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("order_key"),
        col("o_custkey").cast("long").as("custkey"),
        col("o_orderdate").cast("timestamp").as("order_ts"))
      fact.join(hist,
        col("custkey") === col("member_id") &&
          col("order_ts") >= col("vf") &&
          (col("vt").isNull || col("order_ts") < col("vt")), "left")
        .select(col("order_key"), col("custkey"), col("order_ts"),
          col("segment").as("segment_asof"))
    }, Some(
      """WITH s1 AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS member_id, c_mktsegment AS segment
        |  FROM customer),
        |hist AS (
        |  SELECT member_id, segment, TIMESTAMP '2000-01-01 00:00:00' AS vf,
        |         CASE WHEN member_id % 10 = 0
        |              THEN TIMESTAMP '2000-02-01 00:00:00' END AS vt
        |  FROM s1
        |  UNION ALL
        |  SELECT member_id, 'CHANGED' AS segment,
        |         TIMESTAMP '2000-02-01 00:00:00' AS vf, NULL AS vt
        |  FROM s1 WHERE member_id % 10 = 0)
        |SELECT CAST(o_orderkey AS BIGINT) AS order_key,
        |       CAST(o_custkey AS BIGINT) AS custkey,
        |       CAST(o_orderdate AS TIMESTAMP) AS order_ts,
        |       h.segment AS segment_asof
        |FROM orders o LEFT JOIN hist h
        |  ON h.member_id = o.o_custkey
        | AND CAST(o.o_orderdate AS TIMESTAMP) >= h.vf
        | AND (h.vt IS NULL OR CAST(o.o_orderdate AS TIMESTAMP) < h.vt)""".stripMargin))
  )
}
