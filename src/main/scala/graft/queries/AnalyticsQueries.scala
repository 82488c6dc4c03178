package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Graph
import graft.pipeline.{Profile, Stats, TextAnalysis => TA}
import graft.sources.Sources.{events, table}

/** Round-6 additions: OLAP hierarchy totals, sort-free global ranking,
  * log-free BM25, column profiling, median/MAD outliers, n-gram LM counts,
  * HLL set operations, typed JSON extraction, lag-window event deltas, and
  * the codegen'd z-order layout key — each with a value-exact DuckDB oracle
  * (doubles only as single fixed-order IEEE expressions, everything else
  * exact integers/strings).
  */
object AnalyticsQueries extends QuerySet {

  /** DuckDB replay of [[graft.operators.Ranking.bradleyTerry]] (10 MM
    * iterations, truncated integer fixed point, max-renormalization per
    * round) over supplier-team games derived from per-order revenue
    * contests — unrolled materialized CTE pairs, the q318 PCA technique.
    */
  private val btOracleSql: String = {
    val iters = 10
    val itCtes = (1 to iters).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT nm.i, sum((nm.n * 1000000000000) // (si.s + sj.s)) AS d
         |  FROM nm JOIN s${k - 1} si ON si.i = nm.i
         |       JOIN s${k - 1} sj ON sj.i = nm.j
         |  WHERE si.s + sj.s > 0 GROUP BY 1),
         |r$k AS MATERIALIZED (
         |  SELECT it.i,
         |         CASE WHEN coalesce(d.d, 0) = 0 THEN CAST(0 AS HUGEINT)
         |              ELSE (wt.w * 1000000000000) // d.d END AS v
         |  FROM it JOIN wt ON wt.i = it.i LEFT JOIN d$k d ON d.i = it.i),
         |s$k AS MATERIALIZED (
         |  SELECT i, CASE WHEN mx = 0 THEN v ELSE (v * 1000000) // mx END AS s
         |  FROM r$k, (SELECT max(v) AS mx FROM r$k) m)""".stripMargin
    }.mkString(",\n")
    s"""WITH ot AS MATERIALIZED (
       |  SELECT CAST(l_orderkey AS BIGINT) AS ord,
       |         CAST(l_suppkey % 20 AS BIGINT) AS team,
       |         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
       |  FROM lineitem GROUP BY 1, 2),
       |gm AS MATERIALIZED (
       |  SELECT CASE WHEN a.rev > b.rev THEN a.team ELSE b.team END AS w,
       |         CASE WHEN a.rev > b.rev THEN b.team ELSE a.team END AS l
       |  FROM ot a JOIN ot b ON a.ord = b.ord AND a.team < b.team
       |  WHERE a.rev <> b.rev),
       |wl AS MATERIALIZED (
       |  SELECT w, l, CAST(count(*) AS HUGEINT) AS n FROM gm GROUP BY 1, 2),
       |it AS MATERIALIZED (
       |  SELECT DISTINCT i FROM (SELECT w AS i FROM wl UNION ALL
       |                          SELECT l FROM wl) t),
       |nm AS MATERIALIZED (
       |  SELECT i, j, sum(n) AS n FROM (
       |    SELECT w AS i, l AS j, n FROM wl
       |    UNION ALL SELECT l, w, n FROM wl) t GROUP BY 1, 2),
       |wt AS MATERIALIZED (
       |  SELECT it.i, CAST(coalesce(sum(wl.n), 0) AS HUGEINT) AS w
       |  FROM it LEFT JOIN wl ON wl.w = it.i GROUP BY 1),
       |gt AS (SELECT it.i, CAST(coalesce(sum(nm.n), 0) AS BIGINT) AS g
       |       FROM it LEFT JOIN nm ON nm.i = it.i GROUP BY 1),
       |s0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS s FROM it),
       |$itCtes
       |SELECT s$iters.i AS item, CAST(wt.w AS BIGINT) AS wins, gt.g AS games,
       |       CAST(s$iters.s AS BIGINT) AS strength_ppm,
       |       CAST(row_number() OVER (ORDER BY s$iters.s DESC, s$iters.i ASC)
       |         AS INTEGER) AS rank
       |FROM s$iters JOIN wt ON wt.i = s$iters.i JOIN gt ON gt.i = s$iters.i"""
      .stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    QueryDef("q337_shapley_attribution", (s, d) =>
      // the sixth attribution model: exact Shapley over observed exposure
      // coalitions (v = conversion rate of users with exactly that channel
      // set, unseen coalitions 0); permutation weights as integer literals
      // in BOTH engines, one sign-magnitude division by M! at the end
      graft.operators.EventAnalytics.shapleyAttribution(events(s, d),
        channels = Seq("click", "error", "signup", "view"),
        conversionType = "purchase"),
      Some {
        def fact(i: Int): Long = (1 to i).map(_.toLong).product
        val m = 4
        val inCase = (1 to m)
          .map(s => s"WHEN $s THEN ${fact(s - 1) * fact(m - s)}").mkString(" ")
        val outCase = (0 until m)
          .map(s => s"WHEN $s THEN ${fact(s) * fact(m - 1 - s)}").mkString(" ")
        s"""WITH u AS (
           |  SELECT user_id,
           |         coalesce(list_sort(list_distinct(list(event_type)
           |           FILTER (WHERE event_type != 'purchase'))), []) AS chset,
           |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           |           AS conv
           |  FROM events
           |  WHERE user_id IS NOT NULL AND event_type IN
           |    ('click', 'error', 'signup', 'view', 'purchase')
           |  GROUP BY 1),
           |v AS (SELECT chset, CAST(count(*) AS BIGINT) AS users,
           |             (CAST(sum(conv) AS BIGINT) * 1000000)
           |               // CAST(count(*) AS BIGINT) AS v_ppm
           |      FROM u GROUP BY 1),
           |ch AS (SELECT unnest(['click', 'error', 'signup', 'view'])
           |         AS channel),
           |t AS (SELECT c.channel,
           |             CASE WHEN list_contains(v.chset, c.channel)
           |                  THEN (CASE len(v.chset) $inCase END) * v.v_ppm
           |                  ELSE -(CASE len(v.chset) $outCase END) * v.v_ppm
           |             END AS contrib
           |      FROM v CROSS JOIN ch c),
           |s AS (SELECT channel, CAST(sum(contrib) AS BIGINT) AS sc
           |      FROM t GROUP BY 1)
           |SELECT channel,
           |       CAST(CASE WHEN sc >= 0 THEN sc // ${fact(m)}
           |                 ELSE -((-sc) // ${fact(m)}) END AS BIGINT)
           |         AS shapley_ppm
           |FROM s""".stripMargin
      }),

    QueryDef("q365_order_backlog", (s, d) =>
      // open-order backlog step series per priority: order placed ->
      // last line shipped as a closed interval, boundary-sweep deltas,
      // calendar-bounded cumulative window
      graft.operators.Intervals.concurrencySeries(
        table(s, d, "orders")
          .join(table(s, d, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderpriority"))
          .agg(min(datediff(to_date(col("o_orderdate")),
            lit("1970-01-01").cast("date"))).as("s"),
            max(datediff(to_date(col("l_shipdate")),
              lit("1970-01-01").cast("date"))).as("e")),
        Seq("o_orderpriority"), col("s"), col("e")),
      Some(
        """WITH sp AS (
          |  SELECT o_orderkey, o_orderpriority,
          |         CAST(min(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
          |              AS BIGINT) AS s,
          |         CAST(max(CAST(l_shipdate AS DATE) - DATE '1970-01-01')
          |              AS BIGINT) AS e
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          |  GROUP BY 1, 2),
          |d AS (SELECT o_orderpriority, b, CAST(sum(dd) AS BIGINT) AS dd
          |      FROM (SELECT o_orderpriority, s AS b, 1 AS dd FROM sp
          |            WHERE e >= s
          |            UNION ALL
          |            SELECT o_orderpriority, e + 1, -1 FROM sp
          |            WHERE e >= s) z
          |      GROUP BY 1, 2),
          |nz AS (SELECT * FROM d WHERE dd <> 0)
          |SELECT o_orderpriority, b AS day,
          |       CAST(sum(dd) OVER (PARTITION BY o_orderpriority ORDER BY b
          |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS live
          |FROM nz""".stripMargin)),

    QueryDef("q379_price_indexes", (s, d) =>
      // Laspeyres / Paasche / Fisher over the matched part basket across
      // the 1998 ship-date split: exact DECIMAL accumulations, one ppm
      // division each, one IEEE sqrt for Fisher
      graft.operators.Features.priceIndexes(
        table(s, d, "lineitem"),
        year(to_date(col("l_shipdate"))) >= 1998,
        col("l_partkey").cast("long"),
        col("l_quantity").cast("long"),
        graft.operators.Features.cents(col("l_extendedprice"))),
      Some(
        """WITH b AS (SELECT CAST(l_partkey AS BIGINT) AS i,
          |                  year(CAST(l_shipdate AS DATE)) >= 1998 AS p1,
          |                  CAST(l_quantity AS BIGINT) AS q,
          |                  CAST(floor(l_extendedprice * 100 + 0.5)
          |                       AS BIGINT) AS c
          |           FROM lineitem),
          |it AS (SELECT i,
          |         CAST(sum(CASE WHEN NOT p1 THEN q ELSE 0 END) AS BIGINT)
          |           AS q0,
          |         CAST(sum(CASE WHEN NOT p1 THEN c ELSE 0 END) AS BIGINT)
          |           AS c0,
          |         CAST(sum(CASE WHEN p1 THEN q ELSE 0 END) AS BIGINT) AS q1,
          |         CAST(sum(CASE WHEN p1 THEN c ELSE 0 END) AS BIGINT) AS c1
          |       FROM b GROUP BY 1),
          |m AS (SELECT i, q0, q1, c0 // q0 AS p0, c1 // q1 AS p1
          |      FROM it WHERE q0 > 0 AND q1 > 0),
          |a AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
          |             sum(CAST(p1 AS HUGEINT) * q0) AS ln,
          |             sum(CAST(p0 AS HUGEINT) * q0) AS ld,
          |             sum(CAST(p1 AS HUGEINT) * q1) AS pn,
          |             sum(CAST(p0 AS HUGEINT) * q1) AS pd
          |      FROM m)
          |SELECT n_items,
          |       CASE WHEN ld > 0 THEN CAST((ln * 1000000) // ld AS BIGINT)
          |       END AS laspeyres_ppm,
          |       CASE WHEN pd > 0 THEN CAST((pn * 1000000) // pd AS BIGINT)
          |       END AS paasche_ppm,
          |       sqrt(CAST(CASE WHEN ld > 0
          |                      THEN CAST((ln * 1000000) // ld AS BIGINT)
          |                 END AS DOUBLE)
          |            * CAST(CASE WHEN pd > 0
          |                        THEN CAST((pn * 1000000) // pd AS BIGINT)
          |                   END AS DOUBLE)) AS fisher_ppm
          |FROM a""".stripMargin)),

    QueryDef("q377_revenue_recognition", (s, d) =>
      // accrual rev-rec: spread each order's cents evenly over its
      // order-to-last-ship interval, exact to the cent via the
      // largest-remainder daily schedule; per-priority recognized series
      graft.operators.Features.revenueRecognition(
        table(s, d, "orders")
          .join(table(s, d, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderpriority"))
          .agg(min(datediff(to_date(col("o_orderdate")),
            lit("1970-01-01").cast("date"))).as("s"),
            max(datediff(to_date(col("l_shipdate")),
              lit("1970-01-01").cast("date"))).as("e"),
            min(graft.operators.Features.cents(col("o_totalprice")))
              .as("cents")),
        Seq("o_orderpriority"), col("s"), col("e"), col("cents")),
      Some(
        """WITH sp AS (
          |  SELECT o_orderpriority,
          |         CAST(min(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
          |              AS BIGINT) AS s,
          |         CAST(max(CAST(l_shipdate AS DATE) - DATE '1970-01-01')
          |              AS BIGINT) AS e,
          |         CAST(min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
          |              AS BIGINT) AS c
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          |  GROUP BY o_orderkey, o_orderpriority),
          |v AS (SELECT *, e - s + 1 AS span, c // (e - s + 1) AS base,
          |             c % (e - s + 1) AS rem
          |      FROM sp WHERE e >= s AND c >= 0 AND e - s < 3660),
          |x AS (SELECT o_orderpriority, unnest(generate_series(s, e)) AS day,
          |             s, base, rem
          |      FROM v)
          |SELECT o_orderpriority, day, CAST(count(*) AS BIGINT)
          |         AS n_contracts,
          |       CAST(sum(base + CASE WHEN day - s < rem THEN 1 ELSE 0 END)
          |            AS BIGINT) AS recognized_cents
          |FROM x GROUP BY 1, 2""".stripMargin)),

    QueryDef("q370_max_drawdown", (s, d) =>
      // largest peak-to-trough drop of each nation's daily revenue level
      // (whole dollars): running-max window, struct-argmax earliest
      // trough + its peak — the sustained-regression alert metric
      Stats.maxDrawdown(
        table(s, d, "orders")
          .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(table(s, d, "nation"),
            col("c_nationkey") === col("n_nationkey")),
        Seq("n_name"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date")),
        call_function("div",
          graft.operators.Features.cents(col("o_totalprice")), lit(100L))),
      Some(
        """WITH dl AS (
          |  SELECT n_name,
          |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
          |              AS BIGINT) AS t,
          |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
          |                  // 100) AS BIGINT) AS lvl
          |  FROM orders JOIN customer ON c_custkey = o_custkey
          |         JOIN nation ON n_nationkey = c_nationkey
          |  GROUP BY 1, 2),
          |sc AS (SELECT *,
          |         CAST(max(lvl) OVER (PARTITION BY n_name ORDER BY t
          |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak
          |       FROM dl),
          |s2 AS (SELECT *, peak - lvl AS dd FROM sc),
          |m AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_points,
          |             max(dd) AS mx
          |      FROM s2 GROUP BY 1),
          |x AS (SELECT m.n_name, m.n_points, CAST(m.mx AS BIGINT)
          |        AS max_drawdown, CAST(min(s.t) AS BIGINT) AS trough_at
          |      FROM m JOIN s2 s ON s.n_name = m.n_name AND s.dd = m.mx
          |      GROUP BY 1, 2, 3)
          |SELECT x.n_name, x.n_points, x.max_drawdown, x.trough_at,
          |       s3.peak AS peak_level
          |FROM x JOIN s2 s3 ON s3.n_name = x.n_name AND s3.t = x.trough_at"""
          .stripMargin)),

    QueryDef("q366_revenue_beta", (s, d) => {
      // per-nation revenue beta vs the whole market: daily nation kUSD
      // regressed on daily global kUSD — olsTrend's exact moments, one
      // IEEE division; beta > 1 = amplifies market swings. kUSD units
      // keep n*sxx inside LONG at bench scale (the q293 overflow lesson:
      // daily-dollar sums squared blow 64 bits at sf0.1 volumes)
      val day = datediff(to_date(col("o_orderdate")),
        lit("1970-01-01").cast("date")).as("day")
      val kusd = call_function("div",
        graft.operators.Features.cents(col("o_totalprice")), lit(100000L))
      val nat = table(s, d, "orders")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(table(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), day).agg(sum(kusd).as("y"))
      val global = table(s, d, "orders")
        .groupBy(day).agg(sum(kusd).as("x"))
      graft.operators.Features.olsTrend(nat.join(global, Seq("day")),
        Seq("n_name"), col("x"), col("y"))
    }, Some(
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |                  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |                       AS BIGINT) AS day,
        |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |                    // 100000 AS usd
        |           FROM orders),
        |nat AS (SELECT n_name, day, CAST(sum(usd) AS BIGINT) AS y
        |        FROM o JOIN customer ON c_custkey = o_custkey
        |               JOIN nation ON n_nationkey = c_nationkey
        |        GROUP BY 1, 2),
        |g AS (SELECT day, CAST(sum(usd) AS BIGINT) AS x FROM o GROUP BY 1),
        |j AS (SELECT nat.n_name, g.x, nat.y FROM nat JOIN g USING (day)),
        |a AS (SELECT n_name, CAST(count(*) AS HUGEINT) AS n,
        |             sum(CAST(x AS HUGEINT)) AS sx,
        |             sum(CAST(y AS HUGEINT)) AS sy,
        |             sum(CAST(x AS HUGEINT) * x) AS sxx,
        |             sum(CAST(x AS HUGEINT) * y) AS sxy
        |      FROM j GROUP BY 1)
        |SELECT n_name, CAST(n AS BIGINT) AS n_points,
        |       CASE WHEN n*sxx - sx*sx <> 0
        |            THEN CAST(n*sxy - sx*sy AS DOUBLE)
        |                 / CAST(n*sxx - sx*sx AS DOUBLE) END AS slope,
        |       CASE WHEN n*sxx - sx*sx <> 0
        |            THEN CAST(sy*sxx - sx*sxy AS DOUBLE)
        |                 / CAST(n*sxx - sx*sx AS DOUBLE) END AS intercept
        |FROM a""".stripMargin)),

    QueryDef("q361_temporal_rules", (s, d) =>
      // "A then B within 24h" eventually-rules per ordered type pair:
      // user-counted support + confidence vs users who had A at all —
      // the sequential-pattern baseline adjacency matrices under-report
      graft.operators.EventAnalytics.temporalRules(events(s, d),
        maxGapSec = 86400L),
      Some(
        """WITH b AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS u,
          |                  event_type AS t,
          |                  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec
          |           FROM events WHERE user_id IS NOT NULL
          |             AND event_type IS NOT NULL AND ts IS NOT NULL),
          |tu AS (SELECT t AS from_type,
          |              CAST(count(DISTINCT u) AS BIGINT) AS n_from_users
          |       FROM b GROUP BY 1),
          |sq AS (SELECT DISTINCT a.u, a.t AS from_type, c.t AS to_type
          |       FROM b a JOIN b c ON a.u = c.u AND a.t <> c.t
          |         AND c.sec > a.sec AND c.sec <= a.sec + 86400),
          |s AS (SELECT from_type, to_type,
          |             CAST(count(*) AS BIGINT) AS n_seq_users
          |      FROM sq GROUP BY 1, 2)
          |SELECT s.from_type, s.to_type, tu.n_from_users, s.n_seq_users,
          |       (s.n_seq_users * 1000000) // tu.n_from_users
          |         AS confidence_ppm
          |FROM s JOIN tu USING (from_type)""".stripMargin)),

    QueryDef("q349_abc_classification", (s, d) =>
      // Pareto/ABC: parts by revenue, labeled by cumulative-share cutoffs
      // (80/95) — distributed prefix sums, cross-multiplied integer
      // comparisons, no division anywhere
      graft.operators.Ranking.abcClassify(table(s, d, "lineitem"),
        col("l_partkey").cast("long"),
        graft.operators.Features.cents(col("l_extendedprice")))
        .withColumnRenamed("key", "l_partkey"),
      Some(
        """WITH r AS (
          |  SELECT CAST(l_partkey AS BIGINT) AS l_partkey,
          |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
          |                       AS BIGINT)) AS BIGINT) AS value
          |  FROM lineitem GROUP BY 1),
          |c AS (SELECT *,
          |        CAST(sum(value) OVER (ORDER BY value DESC, l_partkey ASC
          |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_value
          |      FROM r),
          |t AS (SELECT CAST(coalesce(sum(value), 0) AS BIGINT) AS tt FROM r)
          |SELECT l_partkey, value, cum_value,
          |       CASE WHEN CAST(cum_value AS HUGEINT) * 100 <= 80 * CAST(tt AS HUGEINT)
          |              THEN 'A'
          |            WHEN CAST(cum_value AS HUGEINT) * 100 <= 95 * CAST(tt AS HUGEINT)
          |              THEN 'B'
          |            ELSE 'C' END AS abc_class
          |FROM c, t""".stripMargin)),

    QueryDef("q350_hhi_concentration", (s, d) =>
      // revenue-concentration per market segment: HHI as ONE exact
      // division sum(v^2)*1e6 div total^2, plus the effective holder count
      graft.operators.Features.hhiConcentration(
        table(s, d, "orders")
          .join(table(s, d, "customer"),
            col("o_custkey") === col("c_custkey")),
        Seq("c_mktsegment"), col("o_custkey"),
        graft.operators.Features.cents(col("o_totalprice"))),
      Some(
        """WITH h AS (
          |  SELECT c_mktsegment, o_custkey,
          |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
          |              AS BIGINT) AS v
          |  FROM orders JOIN customer ON o_custkey = c_custkey
          |  GROUP BY 1, 2),
          |g AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_holders,
          |             CAST(sum(v) AS BIGINT) AS total,
          |             sum(CAST(v AS HUGEINT) * v) AS ss
          |      FROM h GROUP BY 1)
          |SELECT c_mktsegment, n_holders, total,
          |       CASE WHEN total > 0
          |            THEN CAST((ss * 1000000)
          |                      // (CAST(total AS HUGEINT) * total) AS BIGINT)
          |       END AS hhi_ppm,
          |       CASE WHEN total > 0 AND CAST((ss * 1000000)
          |              // (CAST(total AS HUGEINT) * total) AS BIGINT) > 0
          |            THEN 1000000000 // CAST((ss * 1000000)
          |              // (CAST(total AS HUGEINT) * total) AS BIGINT)
          |       END AS eff_n_milli
          |FROM g""".stripMargin)),

    QueryDef("q343_growth_accounting", (s, d) =>
      // the DAU decomposition: new + retained + resurrected = dau by
      // construction; churned_t = dau_{t-1} - retained_t — exact integers
      graft.operators.EventAnalytics.growthAccounting(events(s, d),
        col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))),
      Some(
        """WITH ud AS (
          |  SELECT DISTINCT CAST(user_id AS BIGINT) AS u,
          |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |x AS (SELECT u, d,
          |        min(d) OVER (PARTITION BY u ORDER BY d
          |          ROWS UNBOUNDED PRECEDING) AS f,
          |        lag(d) OVER (PARTITION BY u ORDER BY d) AS p
          |      FROM ud),
          |daily AS (SELECT d AS day, CAST(count(*) AS BIGINT) AS dau,
          |       CAST(sum(CASE WHEN d = f THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_new,
          |       CAST(sum(CASE WHEN p = d - 1 THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_retained,
          |       CAST(sum(CASE WHEN p IS NOT NULL AND p < d - 1
          |                     THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_resurrected
          |   FROM x GROUP BY 1)
          |SELECT a.day, a.dau, a.n_new, a.n_retained, a.n_resurrected,
          |       coalesce(b.dau, 0) - a.n_retained AS n_churned
          |FROM daily a LEFT JOIN daily b ON b.day = a.day - 1""".stripMargin)),

    QueryDef("q346_activity_streaks", (s, d) =>
      // gaps-and-islands: per user the longest consecutive-day run and
      // its earliest start — day - row_number() island ids, exact
      graft.operators.EventAnalytics.activityStreaks(events(s, d),
        col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))),
      Some(
        """WITH ud AS (
          |  SELECT DISTINCT CAST(user_id AS BIGINT) AS u,
          |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |i AS (SELECT u, d,
          |        d - row_number() OVER (PARTITION BY u ORDER BY d) AS isl
          |      FROM ud),
          |s AS (SELECT u, isl, CAST(count(*) AS BIGINT) AS len,
          |             min(d) AS st
          |      FROM i GROUP BY 1, 2),
          |m AS (SELECT u, CAST(sum(len) AS BIGINT) AS nad,
          |             CAST(count(*) AS BIGINT) AS ns, max(len) AS mx
          |      FROM s GROUP BY 1)
          |SELECT m.u AS user_id, m.nad AS n_active_days, m.ns AS n_streaks,
          |       CAST(m.mx AS BIGINT) AS max_streak,
          |       CAST(min(s.st) AS BIGINT) AS max_streak_start
          |FROM m JOIN s ON s.u = m.u AND s.len = m.mx
          |GROUP BY 1, 2, 3, 4""".stripMargin)),

    QueryDef("q345_key_skew", (s, d) =>
      // shuffle pre-flight on the lineitem join keys: top-key share (the
      // straggler-task lower bound), top/avg ratio, exact Gini — rank via
      // range-partitioned global row numbers, products through DECIMAL
      Profile.keySkew(table(s, d, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey")),
      Some(Seq("l_orderkey", "l_partkey", "l_suppkey").map { c =>
        s"""(WITH k AS (SELECT CAST($c AS VARCHAR) AS k,
           |              CAST(count(*) AS BIGINT) AS c
           |      FROM lineitem WHERE $c IS NOT NULL GROUP BY 1),
           |r AS (SELECT c, row_number() OVER (ORDER BY c ASC, k ASC) AS i
           |      FROM k),
           |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_null FROM lineitem
           |       WHERE $c IS NULL),
           |a AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_rows,
           |             CAST(count(*) AS BIGINT) AS n_keys,
           |             CAST(coalesce(max(c), 0) AS BIGINT) AS top1_cnt,
           |             coalesce(sum(CAST(i AS HUGEINT) * c), 0) AS ic
           |      FROM r)
           |SELECT '$c' AS key_col, a.n_rows, nl.n_null, a.n_keys, a.top1_cnt,
           |       CASE WHEN a.n_rows > 0
           |            THEN (a.top1_cnt * 1000000) // a.n_rows
           |       END AS top1_share_ppm,
           |       CASE WHEN a.n_rows > 0
           |            THEN CAST((CAST(a.top1_cnt AS HUGEINT) * a.n_keys
           |                       * 1000000) // a.n_rows AS BIGINT)
           |       END AS skew_ratio_ppm,
           |       CASE WHEN a.n_rows > 0
           |            THEN CAST(((2 * a.ic
           |                        - CAST(a.n_keys + 1 AS HUGEINT) * a.n_rows)
           |                       * 1000000)
           |                      // (CAST(a.n_keys AS HUGEINT) * a.n_rows)
           |                      AS BIGINT)
           |       END AS gini_ppm
           |FROM a, nl)""".stripMargin
      }.mkString("\nUNION ALL\n"))),

    QueryDef("q341_rate_burst", (s, d) =>
      // bot/rate-limit audit: per user the max events in ANY sliding
      // 1-hour window (event-anchored — exact), plus the earliest peak
      graft.operators.EventAnalytics.slidingBurst(events(s, d),
        col("user_id"), col("ts"), windowSec = 3600L),
      Some(
        """WITH b AS (
          |  SELECT CAST(user_id AS BIGINT) AS u,
          |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |c AS (SELECT u, sec,
          |        CAST(count(*) OVER (PARTITION BY u ORDER BY sec
          |          RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
          |          AS BIGINT) AS cnt
          |      FROM b),
          |m AS (SELECT u, CAST(count(*) AS BIGINT) AS n_events,
          |             max(cnt) AS mx
          |      FROM c GROUP BY 1)
          |SELECT m.u AS user_id, m.n_events, m.mx AS max_burst,
          |       CAST(min(c.sec) AS BIGINT) AS peak_sec
          |FROM m JOIN c ON c.u = m.u AND c.cnt = m.mx
          |GROUP BY 1, 2, 3""".stripMargin)),

    QueryDef("q338_flip_flops", (s, d) =>
      // write-race audit: customers whose order status reverts A -> B -> A
      // within a year of order dates — exact window lags, no floats
      graft.pipeline.Profile.flipFlops(table(s, d, "orders"),
        col("o_custkey"), col("o_orderstatus"),
        datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")),
        col("o_orderkey"), maxGapDays = 365)
        .withColumnRenamed("key", "o_custkey"),
      Some(
        """WITH b AS (
          |  SELECT CAST(o_custkey AS BIGINT) AS k, o_orderstatus AS v,
          |         CAST(datediff('day', DATE '1970-01-01',
          |                       CAST(o_orderdate AS DATE)) AS INTEGER) AS o,
          |         CAST(o_orderkey AS BIGINT) AS t
          |  FROM orders),
          |w AS (SELECT k, v, o,
          |        lag(v, 1) OVER (PARTITION BY k ORDER BY o, t) AS p1,
          |        lag(v, 2) OVER (PARTITION BY k ORDER BY o, t) AS p2,
          |        lag(o, 2) OVER (PARTITION BY k ORDER BY o, t) AS o2
          |      FROM b)
          |SELECT k AS o_custkey, CAST(count(*) AS BIGINT) AS n_flips,
          |       CAST(max(o) AS INTEGER) AS last_flip_day
          |FROM w WHERE v = p2 AND v != p1 AND o - o2 <= 365
          |GROUP BY 1""".stripMargin)),

    QueryDef("q333_bradley_terry", (s, d) => {
      // arena ranking of supplier teams: within each order, the higher-
      // revenue team beats the lower (ties void); Bradley-Terry strengths
      // by 10 truncated-integer MM rounds, driver-bounded win matrix
      val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val ot = table(s, d, "lineitem")
        .groupBy(col("l_orderkey").cast("long").as("ord"),
          (col("l_suppkey") % 20).cast("long").as("team"))
        .agg(sum(cents).as("rev"))
      val a = ot.select(col("ord"), col("team").as("ta"), col("rev").as("ra"))
      val b = ot.select(col("ord"), col("team").as("tb"), col("rev").as("rb"))
      val games = a.join(b, Seq("ord"))
        .filter(col("ta") < col("tb") && col("ra") =!= col("rb"))
        .select(
          when(col("ra") > col("rb"), col("ta")).otherwise(col("tb")).as("w"),
          when(col("ra") > col("rb"), col("tb")).otherwise(col("ta")).as("l"))
      graft.operators.Ranking.bradleyTerry(games, col("w"), col("l"),
        iters = 10, maxItems = 20)
    }, Some(btOracleSql)),

    QueryDef("q330_cohort_ltv", (s, d) =>
      // LTV curves by first-activity cohort: cumulative milli-value per
      // user at each day offset k <= 14 — the payback readout priced
      // against acquisition; retention's revenue-weighted sibling
      graft.operators.EventAnalytics.cohortLtv(events(s, d),
        col("user_id"), col("ts"),
        floor(col("value") * 1000 + 0.5), horizonDays = 14),
      Some(
        """WITH b AS (
          |  SELECT user_id, CAST(ts AS DATE) AS day,
          |         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |f AS (SELECT user_id, min(day) AS cohort_day FROM b GROUP BY 1),
          |sz AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users
          |       FROM f GROUP BY 1),
          |r AS (SELECT f.cohort_day,
          |             CAST(b.day - f.cohort_day AS BIGINT) AS k,
          |             CAST(sum(coalesce(b.v, 0)) AS BIGINT) AS rev_units
          |      FROM b JOIN f USING (user_id)
          |      WHERE b.day - f.cohort_day <= 14
          |      GROUP BY 1, 2),
          |c AS (SELECT cohort_day, k, rev_units,
          |             CAST(sum(rev_units) OVER (PARTITION BY cohort_day
          |               ORDER BY k) AS BIGINT) AS cum_units
          |      FROM r)
          |SELECT c.cohort_day, c.k, sz.n_users, c.rev_units, c.cum_units,
          |       (c.cum_units * 1000000) // sz.n_users AS ltv_per_user_micro
          |FROM c JOIN sz USING (cohort_day)""".stripMargin)),

    QueryDef("q331_churn_sensitivity", (s, d) =>
      // churn-definition sweep: for inactivity cutoffs 1/3/7/14/21 days,
      // the exact share of users inactive longer than the cutoff at the
      // corpus horizon — pick the elbow, not folklore
      graft.operators.EventAnalytics.churnSensitivity(events(s, d),
        col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
        thresholds = Seq(1, 3, 7, 14, 21)),
      Some(
        """WITH ld AS (
          |  SELECT user_id,
          |         max(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT))
          |           AS last_day
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          |  GROUP BY 1),
          |md AS (SELECT max(last_day) AS md FROM ld),
          |g AS (SELECT md.md - ld.last_day AS gap, CAST(count(*) AS BIGINT) AS cnt
          |      FROM ld, md GROUP BY 1),
          |t AS (SELECT CAST(unnest([1, 3, 7, 14, 21]) AS BIGINT) AS threshold_days)
          |SELECT t.threshold_days,
          |       CAST(sum(g.cnt) AS BIGINT) AS n_users,
          |       CAST(coalesce(sum(CASE WHEN g.gap > t.threshold_days
          |                               THEN g.cnt END), 0) AS BIGINT) AS n_churned,
          |       CAST(coalesce(sum(CASE WHEN g.gap > t.threshold_days
          |                               THEN g.cnt END), 0) AS BIGINT) * 1000000
          |         // CAST(sum(g.cnt) AS BIGINT) AS churn_ppm
          |FROM g, t GROUP BY 1""".stripMargin)),

    QueryDef("q328_price_volume_mix", (s, d) =>
      // FP&A revenue bridge 1996 -> 1997 by return flag: volume at old
      // price vs realized-price effect with EXACT per-segment
      // reconciliation (one shared truncation point), plus the total row
      // whose mix term is the segment-share shift
      graft.operators.Features.priceVolumeMix(
        table(s, d, "lineitem")
          .filter(year(to_date(col("l_shipdate"))).isin(1996, 1997)),
        Seq("l_returnflag"),
        year(to_date(col("l_shipdate"))) === 1997,
        col("l_quantity"),
        floor(col("l_extendedprice") * 100 + 0.5)),
      Some(
        """WITH b AS (
          |  SELECT l_returnflag AS seg,
          |         (year(CAST(l_shipdate AS DATE)) = 1997) AS cur,
          |         CAST(l_quantity AS BIGINT) AS q,
          |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS r
          |  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) IN (1996, 1997)),
          |s AS (SELECT seg,
          |             CAST(sum(CASE WHEN NOT cur THEN q ELSE 0 END) AS BIGINT) AS q0,
          |             CAST(sum(CASE WHEN cur THEN q ELSE 0 END) AS BIGINT) AS q1,
          |             CAST(sum(CASE WHEN NOT cur THEN r ELSE 0 END) AS BIGINT) AS r0,
          |             CAST(sum(CASE WHEN cur THEN r ELSE 0 END) AS BIGINT) AS r1
          |      FROM b GROUP BY 1),
          |e AS (SELECT seg, q0, q1, r0, r1,
          |             CASE WHEN q0 > 0
          |                  THEN CAST((CAST(q1 AS HUGEINT) * r0) // q0 AS BIGINT)
          |                  ELSE r1 END AS base
          |      FROM s),
          |se AS (SELECT seg, q0, q1, r0 AS r0_units, r1 AS r1_units,
          |              base - r0 AS volume_units, r1 - base AS price_units
          |       FROM e),
          |t AS (SELECT CAST(sum(q0) AS BIGINT) AS q0, CAST(sum(q1) AS BIGINT) AS q1,
          |             CAST(sum(r0) AS BIGINT) AS r0, CAST(sum(r1) AS BIGINT) AS r1
          |      FROM s),
          |te AS (SELECT q0, q1, r0, r1,
          |              CASE WHEN q0 > 0
          |                   THEN CAST((CAST(q1 AS HUGEINT) * r0) // q0 AS BIGINT)
          |                   ELSE r1 END AS base
          |       FROM t),
          |sp AS (SELECT CAST(sum(price_units) AS BIGINT) AS p FROM se)
          |SELECT seg AS l_returnflag, q0, q1, r0_units, r1_units,
          |       volume_units, price_units, CAST(NULL AS BIGINT) AS mix_units
          |FROM se
          |UNION ALL
          |SELECT NULL, te.q0, te.q1, te.r0, te.r1, te.base - te.r0, sp.p,
          |       (te.r1 - te.r0) - (te.base - te.r0) - sp.p
          |FROM te, sp""".stripMargin)),

    QueryDef("q329_max_concurrency", (s, d) => {
      // capacity sweep: peak simultaneously-open orders per priority
      // class and the first day the peak is hit — the boundary-sweep
      // (+1/-1, cumsum over DISTINCT boundary days) the islands op erases
      val day = (c: org.apache.spark.sql.Column) =>
        datediff(to_date(c), lit("1970-01-01").cast("date")).cast("long")
      val iv = table(s, d, "orders")
        .join(table(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(max(col("l_shipdate")).as("last_ship"))
        .select(col("o_orderpriority"), day(col("o_orderdate")).as("s"),
          greatest(day(col("last_ship")), day(col("o_orderdate"))).as("e"))
      graft.operators.Intervals.maxConcurrency(iv, Seq("o_orderpriority"),
        col("s"), col("e"))
    }, Some(
      """WITH o AS (
        |  SELECT o_orderkey, o_orderdate, o_orderpriority,
        |         max(l_shipdate) AS last_ship
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2, 3),
        |iv AS (SELECT o_orderpriority AS k,
        |              CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS s,
        |              greatest(
        |                CAST(CAST(last_ship AS DATE) - DATE '1970-01-01' AS BIGINT),
        |                CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)) AS e
        |       FROM o),
        |d AS (SELECT k, b, CAST(sum(dd) AS BIGINT) AS dd FROM (
        |        SELECT k, s AS b, 1 AS dd FROM iv
        |        UNION ALL SELECT k, e + 1, -1 FROM iv) t GROUP BY 1, 2),
        |c AS (SELECT k, b, sum(dd) OVER (PARTITION BY k ORDER BY b) AS live
        |      FROM d),
        |m AS (SELECT k, max(live) AS peak FROM c GROUP BY 1)
        |SELECT c.k AS o_orderpriority, CAST(m.peak AS BIGINT) AS peak,
        |       CAST(min(c.b) AS BIGINT) AS peak_at
        |FROM c JOIN m ON c.k = m.k AND c.live = m.peak
        |GROUP BY 1, 2""".stripMargin)),

    QueryDef("q324_fd_violations", (s, d) =>
      // functional-dependency mining over declared candidates: partkey ->
      // name must hold exactly (it's the key), brand -> type and size ->
      // brand report their minimum-repair violation counts — the
      // DQ-rule-discovery pass that feeds GenericTests
      Profile.fdViolations(table(s, d, "part"),
        Seq(("p_partkey", "p_name"), ("p_brand", "p_type"),
          ("p_size", "p_brand"))),
      Some(
        """WITH cand(lhs, rhs) AS (
          |  SELECT * FROM (VALUES ('p_partkey', 'p_name'),
          |    ('p_brand', 'p_type'), ('p_size', 'p_brand')) v),
          |vals AS (
          |  SELECT 'p_partkey' AS lhs, 'p_name' AS rhs,
          |         CAST(p_partkey AS VARCHAR) AS l, p_name AS r
          |  FROM part WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL
          |  UNION ALL
          |  SELECT 'p_brand', 'p_type', p_brand, p_type
          |  FROM part WHERE p_brand IS NOT NULL AND p_type IS NOT NULL
          |  UNION ALL
          |  SELECT 'p_size', 'p_brand', CAST(p_size AS VARCHAR), p_brand
          |  FROM part WHERE p_size IS NOT NULL AND p_brand IS NOT NULL),
          |g AS (SELECT lhs, rhs, l, r, count(*) AS n FROM vals GROUP BY 1, 2, 3, 4),
          |pl AS (SELECT lhs, rhs, l, sum(n) AS tot, max(n) AS keep
          |       FROM g GROUP BY 1, 2, 3),
          |agg AS (SELECT lhs, rhs, CAST(sum(tot) AS BIGINT) AS n_rows,
          |               CAST(count(*) AS BIGINT) AS n_lhs,
          |               CAST(sum(tot - keep) AS BIGINT) AS n_violations
          |        FROM pl GROUP BY 1, 2)
          |SELECT cand.lhs, cand.rhs, agg.n_rows, agg.n_lhs, agg.n_violations,
          |       CASE WHEN agg.n_rows > 0
          |            THEN ((agg.n_rows - agg.n_violations) * 1000000) // agg.n_rows
          |       END AS holds_ppm
          |FROM cand JOIN agg USING (lhs, rhs)""".stripMargin)),

    QueryDef("q319_rolling_wau", (s, d) =>
      // exact rolling 7-day active users + same-day DAU + stickiness —
      // the engagement dashboard triple, via the bounded-fanout explode
      // (never a rolling COUNT DISTINCT window over raw rows)
      graft.operators.EventAnalytics.rollingActiveUsers(events(s, d),
        col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
        window = 7),
      Some(
        """WITH ud AS (
          |  SELECT DISTINCT CAST(user_id AS BIGINT) AS u,
          |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |mx AS (SELECT max(day) AS md FROM ud),
          |w AS (SELECT DISTINCT u, ud.day + g.o AS day
          |      FROM ud, generate_series(0, 6) g(o)),
          |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau
          |        FROM w, mx WHERE day <= md GROUP BY 1),
          |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1)
          |SELECT wau.day, coalesce(dau.dau, 0) AS dau, wau.wau,
          |       coalesce(dau.dau, 0) * 1000000 // wau.wau AS stickiness_ppm
          |FROM wau LEFT JOIN dau USING (day)""".stripMargin)),

    QueryDef("q320_late_data_audit", (s, d) =>
      // watermark-delay tuning input: replay each event-type partition in
      // arrival (event_id) order, measure lateness vs the running
      // event-time high-watermark, report the count beyond 1h plus the
      // exact p99/max — "withWatermark('1 hour') would drop n_late rows"
      graft.operators.EventAnalytics.latenessAudit(events(s, d),
        col("event_type"), col("event_id"), col("ts"), thresholdSec = 3600L)
        .withColumnRenamed("part", "event_type"),
      Some(
        """WITH b AS (SELECT event_type AS part, event_id AS arr,
          |                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
          |           FROM events),
          |s AS (SELECT part,
          |             (max(ts_us) OVER (PARTITION BY part ORDER BY arr
          |                ROWS UNBOUNDED PRECEDING) - ts_us) // 1000000 AS late_sec
          |      FROM b),
          |a AS (SELECT part, CAST(count(*) AS BIGINT) AS n_events,
          |             CAST(coalesce(sum(CASE WHEN late_sec > 3600 THEN 1 END), 0)
          |               AS BIGINT) AS n_late,
          |             CAST(max(late_sec) AS BIGINT) AS max_late_sec
          |      FROM s GROUP BY 1),
          |r AS (SELECT part, late_sec, count(*) AS cnt FROM s GROUP BY 1, 2),
          |rc AS (SELECT part, late_sec, cnt,
          |              sum(cnt) OVER (PARTITION BY part ORDER BY late_sec) AS cum,
          |              sum(cnt) OVER (PARTITION BY part) AS tot
          |       FROM r),
          |p AS (SELECT part, CAST(min(late_sec) AS BIGINT) AS p99_late_sec
          |      FROM rc WHERE cum * 1000 >= 990 * tot
          |        AND (cum - cnt) * 1000 < 990 * tot GROUP BY 1)
          |SELECT a.part AS event_type, a.n_events, a.n_late, a.max_late_sec,
          |       p.p99_late_sec
          |FROM a JOIN p USING (part)""".stripMargin)),

    QueryDef("q108_rollup_totals", (s, d) =>
      // GROUP BY ROLLUP hierarchy (detail -> per-flag subtotal -> grand
      // total) with grouping_id disambiguating real NULL keys from
      // subtotal rows — the OLAP report shape. One shuffle: Spark expands
      // the grouping sets map-side and aggregates them in a single pass.
      table(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          grouping_id().as("gid")),
      Some(
        """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_rows,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |       CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid
          |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)),

    QueryDef("q109_value_ranks", (s, d) =>
      // sort-free ranking (Ranking scaladoc): rank()/dense_rank() per
      // distinct value from a rollup + cumsum — no single-partition
      // whole-table window sort. The oracle derives the same numbers from
      // actual rank() window calls over raw rows (independent recipe).
      graft.operators.Ranking.valueRanks(
        table(s, d, "lineitem"), Seq("l_returnflag"),
        col("l_quantity").cast("long")),
      Some(
        """WITH r AS (
          |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
          |         rank() OVER (PARTITION BY l_returnflag ORDER BY CAST(l_quantity AS BIGINT)) AS rnk,
          |         dense_rank() OVER (PARTITION BY l_returnflag ORDER BY CAST(l_quantity AS BIGINT)) AS drnk
          |  FROM lineitem)
          |SELECT l_returnflag, v, CAST(count(*) AS BIGINT) AS n_rows,
          |       CAST(min(rnk) AS BIGINT) AS rnk, CAST(min(drnk) AS BIGINT) AS dense_rnk
          |FROM r GROUP BY 1, 2""".stripMargin)),

    QueryDef("q110_bm25_terms", (s, d) =>
      TA.bm25TermScores(table(s, d, "documents"),
        Seq("the", "of", "and", "table")),
      Some(
        """WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc, string_split(text, ' ') AS toks
          |              FROM documents WHERE text IS NOT NULL),
          |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
          |                 CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM base),
          |tf AS (SELECT doc, CAST(len(toks) AS BIGINT) AS dl, t AS term,
          |              CAST(count(*) AS BIGINT) AS tf
          |       FROM base, LATERAL (SELECT unnest(list_filter(toks,
          |              x -> x IN ('the','of','and','table'))) AS t) u
          |       GROUP BY 1, 2, 3),
          |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
          |SELECT doc, term, tf, df,
          |       CAST(tf AS DOUBLE) * (1.2 + 1.0)
          |         / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 *
          |              (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
          |         AS tf_norm,
          |       (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
          |         / (CAST(df AS DOUBLE) + 0.5) AS idf_odds
          |FROM tf JOIN dfs USING (term), stats""".stripMargin)),

    QueryDef("q111_profile", (s, d) =>
      Profile.profileColumns(table(s, d, "lineitem"),
        Seq("l_orderkey", "l_returnflag", "l_quantity", "l_shipdate")), {
      val blocks = Seq("l_orderkey", "l_returnflag", "l_quantity", "l_shipdate")
        .map(c =>
          s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(count(*) - count($c) AS BIGINT) AS n_null,
             |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |       CAST(min($c) AS VARCHAR) AS min_value,
             |       CAST(max($c) AS VARCHAR) AS max_value
             |FROM lineitem""".stripMargin)
      Some(blocks.mkString("\nUNION ALL\n"))
    }),

    QueryDef("q112_mad_outliers", (s, d) =>
      Stats.madOutliers(table(s, d, "documents"), Seq("source"),
        col("n_chars"), k = 3)
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"), col("med"), col("mad")),
      Some(
        // independent recipe: DuckDB's quantile_disc(0.5) (verified to share
        // the ceil-rank lower-median definition with exactQuantiles)
        """WITH med AS (SELECT source, quantile_disc(n_chars, 0.5) AS med
          |             FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
          |dev AS (SELECT d.doc_id, d.source, d.n_chars, m.med,
          |               abs(d.n_chars - m.med) AS abs_dev
          |        FROM documents d JOIN med m USING (source)
          |        WHERE d.n_chars IS NOT NULL),
          |mad AS (SELECT source, quantile_disc(abs_dev, 0.5) AS mad FROM dev GROUP BY 1)
          |SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
          |       CAST(n_chars AS BIGINT) AS n_chars, CAST(med AS BIGINT) AS med,
          |       CAST(mad AS BIGINT) AS mad
          |FROM dev JOIN mad USING (source) WHERE abs_dev > 3 * mad""".stripMargin)),

    QueryDef("q113_trigram_counts", (s, d) =>
      TA.ngramCounts(table(s, d, "documents"), n = 3, minCount = 3),
      Some(
        """WITH dd AS (SELECT string_split(text, ' ') AS toks
          |            FROM documents WHERE text IS NOT NULL),
          |g AS (SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
          |      FROM dd, LATERAL (SELECT unnest(generate_series(1, len(toks)-2)) AS i) i
          |      WHERE len(toks) >= 3)
          |SELECT gram, CAST(count(*) AS BIGINT) AS n_gram
          |FROM g GROUP BY 1 HAVING count(*) >= 3""".stripMargin)),

    QueryDef("q114_hll_overlap", (s, d) => {
      // audience overlap at sketch scale: |viewers|, |purchasers|, union and
      // intersection of distinct user_ids — registers only, inclusion-
      // exclusion for the overlap (Sketches.hllSetOps scaladoc caveats).
      import graft.functions.Sketches
      val ev = events(s, d)
      val regs = (t: String) => Sketches.hllRegisters(
        ev.filter(col("event_type") === t), Seq.empty, col("user_id"))
      Sketches.hllSetOps(regs("view"), regs("purchase"))
    }, Some {
      def regsSql(t: String, as: String) =
        s"""$as AS (
           |  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::INT AS hll_bucket,
           |         max(coalesce(nullif(strpos(
           |           lpad(bin(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 8))::BIGINT), 32, '0'),
           |           '1'), 0), 33)) AS hll_rho
           |  FROM events WHERE event_type = '$t' AND user_id IS NOT NULL GROUP BY 1)""".stripMargin
      // coalesce mirrors the Spark side's empty-register branch (hllEstimate
      // __nb==0 -> 0.0): sum() over an empty register CTE is NULL, and a
      // dataset lacking one event type must not NULL-fail the comparison
      val estSql = (src: String) =>
        s"""(SELECT coalesce(0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)
           |   * 256.0::DOUBLE * 256.0::DOUBLE
           |   / (sum(CAST(1.0 AS DOUBLE) / CAST(1::BIGINT << hll_rho AS DOUBLE))
           |      + CAST(256 - count(*) AS DOUBLE)), 0.0::DOUBLE) FROM $src)""".stripMargin
      s"""WITH ${regsSql("view", "ra")},
         |${regsSql("purchase", "rb")},
         |ru AS (SELECT hll_bucket, max(hll_rho) AS hll_rho
         |       FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1),
         |e AS (SELECT ${estSql("ra")} AS est_a, ${estSql("rb")} AS est_b,
         |             ${estSql("ru")} AS est_union)
         |SELECT est_a, est_b, est_union,
         |       greatest(0.0::DOUBLE, est_a + est_b - est_union) AS est_intersect
         |FROM e""".stripMargin
    }),

    QueryDef("q115_json_props", (s, d) =>
      // typed JSON extraction with a PINNED schema (from_json, not
      // get_json_object: one parse per row into a typed struct, codegen'd,
      // and a malformed document yields typed NULL rather than a stringly
      // propagation) + exact integer rollup per event type
      events(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_k"),
          sum(col("k").cast("long")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      Some(
        """SELECT event_type, CAST(count(k) AS BIGINT) AS n_k,
          |       CAST(sum(k) AS BIGINT) AS sum_k,
          |       CAST(min(k) AS INTEGER) AS min_k, CAST(max(k) AS INTEGER) AS max_k
          |FROM (SELECT event_type,
          |             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
          |      FROM events)
          |GROUP BY 1""".stripMargin)),

    QueryDef("q116_event_deltas", (s, d) =>
      // per-user inter-event gaps (lag window): the dwell-time/inactivity
      // statistic under sessionization and bot detection. One shuffle on
      // user_id; exact integer microseconds ((ts, event_id) tie-break makes
      // the lag deterministic under same-timestamp events).
      {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
        // BOTH lags in ONE projection: chained withColumn stacks two Window
        // operators (two passes over each partition buffer) even for the
        // identical spec — the packSequences lesson
        events(s, d)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
            lag(col("event_id"), 1).over(w).as("prev_event_id"),
            lag(unix_micros(col("ts")), 1).over(w).as("prev_us"))
          .filter(col("prev_event_id").isNotNull)
          .select(col("user_id"), col("event_id"), col("prev_event_id"),
            (col("us") - col("prev_us")).as("gap_us"))
      },
      Some(
        """WITH o AS (
          |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
          |         lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id,
          |         lag(epoch_us(CAST(ts AS TIMESTAMP)))
          |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
          |  FROM events)
          |SELECT CAST(user_id AS BIGINT) AS user_id, CAST(event_id AS BIGINT) AS event_id,
          |       CAST(prev_event_id AS BIGINT) AS prev_event_id,
          |       CAST(us - prev_us AS BIGINT) AS gap_us
          |FROM o WHERE prev_event_id IS NOT NULL""".stripMargin)),

    QueryDef("q117_zorder_key", (s, d) =>
      // 32-bit Morton key over (partkey, suppkey) grid cells — the
      // multi-dimensional layout key (ZOrder16 scaladoc); the query emits
      // the key itself, the layout writer would repartitionByRange on it
      table(s, d, "lineitem")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          graft.plans.Expressions.zorder16(
            col("l_partkey") % 65536, col("l_suppkey") % 65536).as("zkey")), {
      val terms = (0 until 16).flatMap(i => Seq(
        s"((((l_partkey % 65536) >> $i) & 1) << ${2 * i})",
        s"((((l_suppkey % 65536) >> $i) & 1) << ${2 * i + 1})"))
      Some(
        s"""SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           |       CAST(l_linenumber AS BIGINT) AS l_linenumber,
           |       CAST(${terms.mkString(" + ")} AS BIGINT) AS zkey
           |FROM lineitem""".stripMargin)
    }),

    QueryDef("q118_rolling_window", (s, d) =>
      // trailing-24h per-user activity at every event (RANGE frame, not
      // ROWS: equal-timestamp peers all join the frame, so the result is
      // deterministic under ties). One shuffle on user_id; counts and
      // cent-quantized sums are exact integers.
      events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
              .orderBy(col("us")).rangeBetween(-86399999999L, 0))
            .as("n_24h"),
          sum(col("cents")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
              .orderBy(col("us")).rangeBetween(-86399999999L, 0))
            .as("sum_cents_24h")),
      Some(
        """SELECT CAST(event_id AS BIGINT) AS event_id, CAST(user_id AS BIGINT) AS user_id,
          |       CAST(count(*) OVER w AS BIGINT) AS n_24h,
          |       CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) OVER w AS BIGINT) AS sum_cents_24h
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
          |             RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW)""".stripMargin)),

    QueryDef("q119_label_centroids", (s, d) =>
      // embedding mean-pooling per label (class prototypes): exact rational
      // (sum, count) per component + one final IEEE division
      graft.pipeline.Clustering.labelCentroids(
        table(s, d, "embeddings"), "label", "embedding")
        .select(col("label").cast("int").as("label"),
          (col("pos") + 1).as("pos"), col("sum_q"), col("n_vecs"), col("mean_q")),
      Some(
        """WITH q AS (
          |  SELECT label,
          |         list_transform(CAST(embedding AS DOUBLE[]),
          |           e -> CAST(floor(e * 1000 + 0.5) AS BIGINT)) AS v
          |  FROM embeddings),
          |c AS (SELECT label, i AS pos, v[i] AS x
          |      FROM q, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) i)
          |SELECT CAST(label AS INTEGER) AS label, CAST(pos AS INTEGER) AS pos,
          |       CAST(sum(x) AS BIGINT) AS sum_q, CAST(count(x) AS BIGINT) AS n_vecs,
          |       CAST(sum(x) AS DOUBLE) / CAST(count(x) AS DOUBLE) AS mean_q
          |FROM c GROUP BY 1, 2""".stripMargin)),

    QueryDef("q120_window_stats", (s, d) => {
      // the remaining SQL window-function battery over one shared
      // (partition, total-order) spec — ntile quartiles, percent_rank,
      // cume_dist, first/last over the full frame. The TOTAL order
      // ((qty, orderkey, linenumber) is unique) makes every function
      // deterministic; percent_rank/cume_dist are single integer-ratio IEEE
      // divisions, identical on any engine. One exchange on l_returnflag;
      // all five functions share the one sort.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
        .orderBy(col("qty").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      val full = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      table(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity").cast("long").as("qty"))
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("qty"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          first(col("qty")).over(full).as("min_qty"),
          last(col("qty")).over(full).as("max_qty"))
    }, Some(
      """SELECT l_returnflag, CAST(l_orderkey AS BIGINT) AS l_orderkey,
        |       CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       CAST(l_quantity AS BIGINT) AS qty,
        |       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume,
        |       CAST(first_value(l_quantity) OVER wf AS BIGINT) AS min_qty,
        |       CAST(last_value(l_quantity) OVER wf AS BIGINT) AS max_qty
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_returnflag
        |             ORDER BY CAST(l_quantity AS BIGINT), l_orderkey, l_linenumber),
        |       wf AS (PARTITION BY l_returnflag
        |              ORDER BY CAST(l_quantity AS BIGINT), l_orderkey, l_linenumber
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin)),

    QueryDef("q121_regex_extract", (s, d) =>
      // log/text span extraction: ALL matches per document (not just the
      // first), exploded and rolled up to per-pattern-hit doc/occurrence
      // counts. Pattern uses portable syntax (character class + bounded
      // repetition, identical under java.util.regex and RE2); pure
      // map-side explode + one partial-agg shuffle.
      // (word, doc) pre-rollup then word rollup — the q75 vocabulary shape:
      // a countDistinct here would Expand-replicate every occurrence row
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(regexp_extract_all(col("text"), lit("[a-z]{5,}"), lit(0))).as("word"))
        .groupBy(col("word"), col("doc_id"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_occurrences")),
      Some(
        """WITH m AS (
          |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]{5,}')) AS word
          |  FROM documents WHERE text IS NOT NULL)
          |SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          |       CAST(count(*) AS BIGINT) AS n_occurrences
          |FROM m GROUP BY 1""".stripMargin)),

    QueryDef("q122_sliding_window", (s, d) =>
      // SLIDING-window counts (1h window every 30min — each event lands in
      // exactly window/slide = 2 frames): Spark's window() expands
      // map-side, then one partial-agg shuffle on (window, type). The
      // tumbling sibling is q22; the same agg runs streaming with a
      // watermark (EventsStream.slidingCounts, StreamingSpec parity).
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n_events")),
      Some(
        """WITH off AS (SELECT unnest([0, 1]) AS k),
          |w AS (SELECT event_type,
          |             make_timestamp((CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 1800000000.0) AS BIGINT) - k)
          |                            * CAST(1800000000 AS BIGINT)) AS win_start
          |      FROM events, off)
          |SELECT CAST(win_start AS TIMESTAMP) AS win_start, event_type,
          |       CAST(count(*) AS BIGINT) AS n_events
          |FROM w GROUP BY 1, 2""".stripMargin)),

    QueryDef("q123_table_checksum", (s, d) =>
      // order/partitioning-independent content checksum per group (the
      // table-equality primitive for validating swaps/migrations without
      // shuffling both sides) — sum of 60-bit row-hash prefixes, exact
      // DECIMAL accumulation
      graft.functions.Sketches.groupChecksum(
        table(s, d, "lineitem"), Seq("l_returnflag"),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"))
        .select(col("l_returnflag"),
          col("checksum").cast("string").as("checksum"), col("n_rows")),
      Some {
      def tok(c: String) =
        s"coalesce(CAST(length(CAST($c AS VARCHAR)) AS VARCHAR) || ':' || CAST($c AS VARCHAR), 'n;')"
      s"""SELECT l_returnflag,
         |       CAST(sum(('0x' || substr(md5(
         |         ${Seq("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate").map(tok).mkString(" ||\n         ")}), 1, 15))::BIGINT) AS VARCHAR) AS checksum,
         |       CAST(count(*) AS BIGINT) AS n_rows
         |FROM lineitem GROUP BY 1""".stripMargin
    }),

    QueryDef("q125_incremental_agg", (s, d) => {
      // incremental AGGREGATE maintenance through the warehouse: a per-
      // member rollup (n_claims, cents, last_date) stays current across
      // two batches by combining stored state with the new slice's
      // partials — per-run cost O(batch + state), history never re-read.
      // The oracle recomputes from scratch; associativity makes them equal.
      import graft.engine.Incremental
      val wh = Scratch.warehouse("q125", d, s, Seq("agg_state"))
      val combiners = Seq("n_claims" -> "sum", "cents" -> "sum", "last_date" -> "max")
      def partials(src: org.apache.spark.sql.DataFrame) = src
        .groupBy(col("o_custkey").cast("long").as("member_id"))
        .agg(count(lit(1)).as("n_claims"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"),
          max(col("o_orderdate").cast("date")).as("last_date"))
      val orders = table(s, d, "orders")
      val cut = lit("1997-01-01").cast("date")
      wh.writeSwap("agg_state", partials(orders.filter(col("o_orderdate") < cut)))
      val merged = Incremental.mergeAggregates(
        wh.read("agg_state"),
        partials(orders.filter(col("o_orderdate") >= cut)),
        Seq("member_id"), combiners)
      wh.writeSwap("agg_state", merged)
      wh.read("agg_state")
    }, Some(
      """SELECT CAST(o_custkey AS BIGINT) AS member_id,
        |       CAST(count(*) AS BIGINT) AS n_claims,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
        |       CAST(max(o_orderdate) AS DATE) AS last_date
        |FROM orders GROUP BY 1""".stripMargin)),

    QueryDef("q126_registry_aggregate", (s, d) => {
      // the same maintenance through the REGISTRY lifecycle (dbt-style):
      // one model function, two runs — CTAS partials, then the
      // is_incremental branch returns only the new slice's partials and
      // the AggregateMat combines them into the stored rollup
      import graft.engine.{AggregateMat, Model, Registry}
      val wh = Scratch.warehouse("q126", d, s, Seq("agg_member_claims"))
      val reg = new Registry(s, wh)
      reg.source("orders_src", table(s, d, "orders"))
      val cut = lit("1997-01-01").cast("date")
      reg.register(Model("agg_member_claims", Seq("orders_src"),
        AggregateMat(Seq("member_id"),
          Seq("n_claims" -> "sum", "cents" -> "sum", "last_date" -> "max")),
        ctx => {
          val slice =
            if (ctx.isIncremental) ctx.ref("orders_src").filter(col("o_orderdate") >= cut)
            else ctx.ref("orders_src").filter(col("o_orderdate") < cut)
          slice.groupBy(col("o_custkey").cast("long").as("member_id"))
            .agg(count(lit(1)).as("n_claims"),
              sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"),
              max(col("o_orderdate").cast("date")).as("last_date"))
        }))
      reg.run()
      reg.run()
      wh.read("agg_member_claims")
    }, Some(
      """SELECT CAST(o_custkey AS BIGINT) AS member_id,
        |       CAST(count(*) AS BIGINT) AS n_claims,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
        |       CAST(max(o_orderdate) AS DATE) AS last_date
        |FROM orders GROUP BY 1""".stripMargin)),

    QueryDef("q124_sql_function", (s, d) => {
      // the SparkSessionExtensions surface end-to-end: native expressions
      // injected into the session's FunctionRegistry when GraftSession
      // builds it, invoked from SQL TEXT (the S10 runner's API),
      // aggregated per group
      table(s, d, "lineitem").createOrReplaceTempView("q124_lineitem")
      s.sql(
        """SELECT l_returnflag,
          |       sum(graft_zorder16(l_partkey % 65536, l_suppkey % 65536)) AS zkey_sum
          |FROM q124_lineitem GROUP BY l_returnflag""".stripMargin)
    }, {
      val terms = (0 until 16).flatMap(i => Seq(
        s"((((l_partkey % 65536) >> $i) & 1) << ${2 * i})",
        s"((((l_suppkey % 65536) >> $i) & 1) << ${2 * i + 1})"))
      Some(
        s"""SELECT l_returnflag,
           |       CAST(sum(${terms.mkString(" + ")}) AS BIGINT) AS zkey_sum
           |FROM lineitem GROUP BY 1""".stripMargin)
    }),

    QueryDef("q127_retrieval_pipeline", (s, d) => {
      // composite retrieval path: exact-dedup the corpus (canonical doc per
      // content hash), BM25-score a query over the survivors, rank top-5
      // docs per term (WindowGroupLimit prunes map-side) — three operators
      // composing in ONE lazy plan: the dedup keep-list broadcasts into a
      // semi join, nothing materializes in between
      val docs = table(s, d, "documents")
      val keep = graft.pipeline.Dedup.exact(docs)
        .select(col("canonical_id").as("doc_id"))
      val surviving = docs.join(broadcast(keep), Seq("doc_id"), "left_semi")
      val scored = TA.bm25TermScores(surviving, Seq("the", "table", "spark"))
        .withColumn("score", col("tf_norm") * col("idf_odds"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("term")).orderBy(col("score").desc, col("doc").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("term"), col("doc"), col("rank").cast("long").as("rank"),
          col("score"))
    }, Some(
      """WITH keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(lower(regexp_replace(text, ' +', ' ', 'g')))),
        |base AS (SELECT CAST(d.doc_id AS BIGINT) AS doc, string_split(text, ' ') AS toks
        |         FROM documents d JOIN keep USING (doc_id) WHERE text IS NOT NULL),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |                 CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM base),
        |tf AS (SELECT doc, CAST(len(toks) AS BIGINT) AS dl, t AS term,
        |              CAST(count(*) AS BIGINT) AS tf
        |       FROM base, LATERAL (SELECT unnest(list_filter(toks,
        |              x -> x IN ('the','table','spark'))) AS t) u
        |       GROUP BY 1, 2, 3),
        |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT doc, term,
        |         (CAST(tf AS DOUBLE) * (1.2 + 1.0)
        |           / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 *
        |                (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |         * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |           / (CAST(df AS DOUBLE) + 0.5)) AS score
        |  FROM tf JOIN dfs USING (term), stats)
        |SELECT term, doc, CAST(rank AS BIGINT) AS rank, score
        |FROM (SELECT *, row_number() OVER (PARTITION BY term ORDER BY score DESC, doc ASC) AS rank
        |      FROM scored) t
        |WHERE rank <= 5""".stripMargin)),

    QueryDef("q136_zorder3", (s, d) =>
      // N-dim z-order layout key (q117's 2-dim sibling generalized): 3
      // dimensions x 10 bits interleaved into a 30-bit key by the
      // codegen'd ZOrderArray loop — the repartitionByRange target for
      // 3-dimensional file pruning; the oracle re-derives every bit
      table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        graft.plans.Expressions.zorderN(10,
          col("l_suppkey") % 1024, col("l_partkey") % 1024,
          col("l_orderkey") % 1024).as("zkey")),
      Some(
        """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
          |       CAST(l_linenumber AS BIGINT) AS l_linenumber,
          |       CAST(list_sum(list_transform(generate_series(0, 9), i ->
          |           (((l_suppkey % 1024) >> i) & 1) * (1::BIGINT << (i*3))
          |         + (((l_partkey % 1024) >> i) & 1) * (1::BIGINT << (i*3 + 1))
          |         + (((l_orderkey % 1024) >> i) & 1) * (1::BIGINT << (i*3 + 2))))
          |         AS BIGINT) AS zkey
          |FROM lineitem""".stripMargin)),

    QueryDef("q140_pagerank", (s, d) =>
      // fixed-point integer PageRank (3 damped iterations) over the
      // customer -> supplier link graph: the classic linked-from-quality
      // signal for web-corpus curation, in exact Long arithmetic so the
      // result hash-compares across engines (float PageRank cannot) —
      // per-iteration cost is one edge-scan + two node-sized shuffles.
      // Supplier ids are offset into their own namespace (custkey and
      // suppkey would otherwise collide into merged nodes).
      Graph.pageRank(
        table(s, d, "orders").join(table(s, d, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("src_id"),
            (col("l_suppkey") + lit(1000000)).as("dst_id")),
        srcCol = "src_id", dstCol = "dst_id", iterations = 3),
      Some(pageRankOracleSql(iterations = 3))),

    QueryDef("q147_hits", (s, d) =>
      // HITS hubs/authorities on the same customer->supplier link graph:
      // exact integer power-of-two max-normalization per half-step (see
      // Graph.hits) keeps the scores hash-comparable; customers are pure
      // hubs (no in-links), suppliers pure authorities — both sides ranked
      // in one result
      Graph.hits(
        table(s, d, "orders").join(table(s, d, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("src_id"),
            (col("l_suppkey") + lit(1000000)).as("dst_id")),
        srcCol = "src_id", dstCol = "dst_id", iterations = 2),
      Some(hitsOracleSql(iterations = 2))),

    QueryDef("q148_triangles", (s, d) => {
      // degree-ordered triangle counting (Suri-Vassilvitskii) on a
      // deterministic pseudo-random graph over the documents ids (two
      // arithmetic edges per doc mod 97 nodes — dense enough for
      // thousands of triangles); the oracle counts triangles the naive
      // way (3-way id-ordered self-join), so the orientation trick is
      // verified against the definition, not against itself
      val docs = table(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val raw = docs.select((col("doc_id") % 97).as("x"),
          ((col("doc_id") * 7 + 1) % 97).as("y"))
        .union(docs.select((col("doc_id") % 97).as("x"),
          ((col("doc_id") * 13 + 5) % 97).as("y")))
      Graph.triangleCounts(raw, "x", "y")
    }, Some(
      """WITH raw AS (
        |  SELECT doc_id % 97 AS x, (doc_id * 7 + 1) % 97 AS y
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id % 97 AS x, (doc_id * 13 + 5) % 97 AS y
        |  FROM documents),
        |e AS (SELECT DISTINCT CAST(least(x, y) AS BIGINT) AS u,
        |                      CAST(greatest(x, y) AS BIGINT) AS v
        |      FROM raw WHERE x <> y),
        |nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM e e1 JOIN e e2 ON e2.u = e1.v
        |                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |members AS (SELECT a AS id FROM tri UNION ALL
        |            SELECT b FROM tri UNION ALL SELECT c FROM tri),
        |counts AS (SELECT id, count(*) AS n FROM members GROUP BY id)
        |SELECT n.id AS node_id,
        |       CAST(coalesce(c.n, 0) AS BIGINT) AS n_triangles
        |FROM nodes n LEFT JOIN counts c ON c.id = n.id""".stripMargin)),

    QueryDef("q150_kcore", (s, d) => {
      // k-core peeling (3 rounds, k=4) on q148's pseudo-random graph
      // (~4-regular: both endpoints are linear in doc_id mod 97, so the
      // edge set is bounded by the modulus, not the doc count): k=4
      // leaves a 65-node core with 32 peeled — both the cascade and the
      // survivors are exercised; the oracle unrolls the identical rounds
      val docs = table(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val raw = docs.select((col("doc_id") % 97).as("x"),
          ((col("doc_id") * 7 + 1) % 97).as("y"))
        .union(docs.select((col("doc_id") % 97).as("x"),
          ((col("doc_id") * 13 + 5) % 97).as("y")))
      Graph.kCorePeel(raw, "x", "y", k = 4, rounds = 3)
    }, Some(kCoreOracleSql(k = 4, rounds = 3))),

    QueryDef("q151_pagerank_seeded", (s, d) =>
      // personalized PageRank: teleport only to the "trusted" suppliers
      // (every 10th) — rank becomes seed-set proximity, the corpus
      // seed-expansion signal; same fixed-point integer recipe as q140,
      // oracle unrolled with the seed-conditional teleport
      Graph.pageRankPersonalized(
        table(s, d, "orders").join(table(s, d, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("src_id"),
            (col("l_suppkey") + lit(1000000)).as("dst_id")),
        srcCol = "src_id", dstCol = "dst_id",
        seeds = table(s, d, "lineitem")
          .filter(col("l_suppkey") % 10 === 0)
          .select((col("l_suppkey") + lit(1000000)).as("node_id")),
        iterations = 3),
      Some(seededPageRankOracleSql(iterations = 3))),

    QueryDef("q153_global_index", (s, d) =>
      // contiguous sample ids 0..N-1 by (source, doc_id) order with NO
      // single-partition window: range partition + within-partition rank
      // + broadcast partition offsets (Ranking.globalRowNumbers); the
      // oracle is the naive global row_number the operator refuses to plan
      graft.operators.Ranking.globalRowNumbers(
        table(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("source")),
        Seq(col("source").asc, col("doc_id").asc))
        .select(col("doc_id"), col("source"), col("row_idx")),
      Some(
        """SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
          |       CAST(row_number() OVER (ORDER BY source, doc_id) - 1 AS BIGINT)
          |         AS row_idx
          |FROM documents""".stripMargin))
  )

  /** DuckDB mirror of [[Graph.pageRankPersonalized]]: the q140 recipe
    * with the teleport term made seed-conditional.
    */
  private def seededPageRankOracleSql(iterations: Int): String = {
    val iterCtes = (1 to iterations).map { i =>
      s"""p$i AS (SELECT m.id,
         |          CASE WHEN m.seed THEN 150000000000 ELSE 0 END
         |          + (85 * coalesce(s.m, 0)) // 100 AS pr
         |        FROM m LEFT JOIN (
         |          SELECT e.dst, sum(p.pr // deg.d) AS m
         |          FROM e JOIN p${i - 1} p ON p.id = e.src
         |                 JOIN deg ON deg.src = e.src
         |          GROUP BY e.dst) s ON s.dst = m.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
       |                           CAST(l_suppkey + 1000000 AS BIGINT) AS dst
       |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
       |seeds AS (SELECT DISTINCT CAST(l_suppkey + 1000000 AS BIGINT) AS id
       |          FROM lineitem WHERE l_suppkey % 10 = 0),
       |m AS (SELECT n.id, (s.id IS NOT NULL) AS seed
       |      FROM nodes n LEFT JOIN seeds s ON s.id = n.id),
       |p0 AS (SELECT id, CAST(CASE WHEN seed THEN 150000000000 ELSE 0 END
       |                       AS BIGINT) AS pr FROM m),
       |$iterCtes
       |SELECT id AS node_id, CAST(pr AS BIGINT) AS pr FROM p$iterations""".stripMargin
  }

  /** DuckDB mirror of [[Graph.kCorePeel]] on the q148 fixture graph,
    * rounds unrolled as (degree filter -> edge restriction) CTE pairs.
    */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val iterCtes = (1 to rounds).map { i =>
      s"""k$i AS (SELECT n FROM (
         |          SELECT n, count(*) AS d FROM (
         |            SELECT u AS n FROM e${i - 1}
         |            UNION ALL SELECT v FROM e${i - 1}) x GROUP BY n)
         |        WHERE d >= $k),
         |e$i AS (SELECT e.u, e.v FROM e${i - 1} e
         |        JOIN k$i a ON a.n = e.u JOIN k$i b ON b.n = e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
       |  SELECT doc_id % 97 AS x, (doc_id * 7 + 1) % 97 AS y FROM documents
       |  UNION ALL
       |  SELECT doc_id % 97 AS x, (doc_id * 13 + 5) % 97 AS y FROM documents),
       |e0 AS (SELECT DISTINCT CAST(least(x, y) AS BIGINT) AS u,
       |                       CAST(greatest(x, y) AS BIGINT) AS v
       |       FROM raw WHERE x <> y),
       |$iterCtes
       |SELECT n AS node_id, CAST(count(*) AS BIGINT) AS deg FROM (
       |  SELECT u AS n FROM e$rounds UNION ALL SELECT v FROM e$rounds) x
       |GROUP BY n""".stripMargin
  }

  /** DuckDB mirror of [[Graph.pageRank]] on the orders->lineitem link
    * graph, iterations unrolled as CTEs (p0..pK) in the same fixed-point
    * integer arithmetic (`//` == `div` for the nonnegative ranks).
    */
  private def pageRankOracleSql(iterations: Int): String = {
    val iterCtes = (1 to iterations).map { i =>
      s"""p$i AS (SELECT n.id, 150000000000 + (85 * coalesce(s.m, 0)) // 100 AS pr
         |        FROM nodes n LEFT JOIN (
         |          SELECT e.dst, sum(p.pr // deg.d) AS m
         |          FROM e JOIN p${i - 1} p ON p.id = e.src
         |                 JOIN deg ON deg.src = e.src
         |          GROUP BY e.dst) s ON s.dst = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
       |                           CAST(l_suppkey + 1000000 AS BIGINT) AS dst
       |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
       |p0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS pr FROM nodes),
       |$iterCtes
       |SELECT id AS node_id, CAST(pr AS BIGINT) AS pr FROM p$iterations""".stripMargin
  }

  /** DuckDB mirror of [[Graph.hits]] on the same link graph: per
    * half-step, raw sums over the edge join then the identical
    * power-of-two shift normalization (`length(bin(max)) - 31` for the
    * default 2^30 scale), iterations unrolled as CTE pairs.
    */
  private def hitsOracleSql(iterations: Int): String = {
    def norm(out: String, in: String): String =
      s"""$out AS (SELECT id, v >> greatest(0, length(bin(mx)) - 31) AS v
         |          FROM $in, (SELECT max(v) AS mx FROM $in) m)""".stripMargin
    def half(outRaw: String, scores: String, from: String, to: String): String =
      s"""$outRaw AS (SELECT n.id, coalesce(s.m, 0) AS v
         |            FROM nodes n LEFT JOIN (
         |              SELECT e.$to AS id, sum(x.v) AS m
         |              FROM e JOIN $scores x ON x.id = e.$from
         |              GROUP BY e.$to) s ON s.id = n.id)""".stripMargin
    val iterCtes = (1 to iterations).map { i =>
      Seq(half(s"a${i}r", s"h${i - 1}", "src", "dst"), norm(s"a$i", s"a${i}r"),
        half(s"h${i}r", s"a$i", "dst", "src"), norm(s"h$i", s"h${i}r"))
        .mkString(",\n")
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
       |                           CAST(l_suppkey + 1000000 AS BIGINT) AS dst
       |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT id, CAST(1073741824 AS BIGINT) AS v FROM nodes),
       |$iterCtes
       |SELECT h.id AS node_id, CAST(h.v AS BIGINT) AS hub,
       |       CAST(a.v AS BIGINT) AS auth
       |FROM h$iterations h JOIN a$iterations a ON a.id = h.id""".stripMargin
  }
}
