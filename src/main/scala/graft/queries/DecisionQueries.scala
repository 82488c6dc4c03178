package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Features
import graft.pipeline.{Inference, Stats}
import graft.sources.Sources.{events, table}
import graft.engine.Pin.PinOps

/** Round-10 continuation battery: the classical decision-statistics layer
  * (one-way ANOVA, Kruskal-Wallis, McNemar, Brown-Forsythe, Cohen's d,
  * Cochran-Armitage, competing-risks incidence) plus the allocation /
  * revenue-accounting ops a finance mart runs (FIFO lot matching, NRR
  * bridge) and a capture-recapture coverage estimate. Same exact-
  * arithmetic discipline as InferenceQueries: integer/DECIMAL moments,
  * one fixed IEEE chain per irrational output, oracles mirror the chain
  * verbatim.
  */
object DecisionQueries extends QuerySet {

  val all: Seq[QueryDef] = Seq(

    QueryDef("q387_anova_f", (s, d) =>
      // does mean order value differ by priority? One-way ANOVA in whole
      // dollars (the anovaF unit contract keeps S_g^2/n_g inside 63 bits
      // at warehouse row counts). The synthetic priorities are assigned
      // independently of price, so F should sit near 1 — the null-holds
      // readout is the point of the audit.
      Inference.anovaF(table(s, d, "orders"),
        call_function("div", Features.cents(col("o_totalprice")), lit(100L)),
        col("o_orderpriority")),
      Some(
        s"""WITH v AS (SELECT ${centsSql("o_totalprice")} // 100 AS x,
           |                  o_orderpriority AS g FROM orders),
           |g AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g,
           |             sum(CAST(x AS HUGEINT)) AS s_g,
           |             sum(CAST(x AS HUGEINT) * x) AS q_g
           |      FROM v GROUP BY 1),
           |t AS (SELECT *, (s_g * s_g) // n_g AS bterm FROM g),
           |a AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
           |             CAST(count(*) AS BIGINT) AS k,
           |             sum(s_g) AS s, sum(q_g) AS q, sum(bterm) AS b
           |      FROM t)
           |SELECT n, k,
           |       CAST(greatest(0, b - (s * s) // n) AS BIGINT) AS ssb,
           |       CAST(q - b AS BIGINT) AS ssw,
           |       CASE WHEN k > 1 AND n > k AND q - b > 0
           |            THEN CAST(CAST(greatest(0, b - (s * s) // n) AS HUGEINT)
           |                      * (n - k) AS DOUBLE)
           |               / CAST(CAST(q - b AS HUGEINT) * (k - 1) AS DOUBLE)
           |       END AS f_stat
           |FROM a""".stripMargin)),

    QueryDef("q388_kruskal_wallis", (s, d) =>
      // k-group location test on event amounts by type (milli fixed-
      // point): the nonparametric ANOVA over the shared distinct-value
      // rank rollup, tie-corrected.
      Inference.kruskalWallis(events(s, d),
        floor(col("value") * 1000 + 0.5).cast("long"), col("event_type")),
      Some(
        """WITH v AS (SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v,
          |                  event_type AS g
          |           FROM events
          |           WHERE value IS NOT NULL AND event_type IS NOT NULL),
          |vg AS (SELECT v, g, CAST(count(*) AS BIGINT) AS c_vg
          |       FROM v GROUP BY 1, 2),
          |vt AS (SELECT v, CAST(sum(c_vg) AS BIGINT) AS c_v FROM vg GROUP BY 1),
          |r AS (SELECT v, CAST(2 * (sum(c_v) OVER (ORDER BY v) - c_v)
          |                     + c_v + 1 AS BIGINT) AS r2
          |      FROM vt),
          |pg AS (SELECT g, CAST(sum(c_vg) AS BIGINT) AS n_g,
          |              sum(CAST(c_vg AS HUGEINT) * r2) AS r2_g
          |       FROM vg JOIN r USING (v) GROUP BY 1),
          |tm AS (SELECT g, n_g, (r2_g * r2_g) // n_g AS term FROM pg),
          |ts AS (SELECT CAST(sum(CAST(c_v AS HUGEINT) * c_v * c_v)
          |                   - sum(CAST(c_v AS HUGEINT)) AS BIGINT) AS tie_term
          |       FROM vt),
          |a AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
          |             CAST(count(*) AS BIGINT) AS k, sum(term) AS s
          |      FROM tm)
          |SELECT n, k, tie_term,
          |       CASE WHEN k > 1 AND CAST(n AS HUGEINT) * n * n - n > tie_term
          |            THEN (CAST(3 * s - 3 * CAST(n AS HUGEINT) * (n + 1) * (n + 1)
          |                       AS DOUBLE)
          |                  / CAST(CAST(n AS HUGEINT) * (n + 1) AS DOUBLE))
          |               * (CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE)
          |                  / CAST(CAST(n AS HUGEINT) * n * n - n - tie_term
          |                         AS DOUBLE))
          |       END AS h_stat
          |FROM a, ts""".stripMargin)),

    QueryDef("q389_mcnemar", (s, d) => {
      // do two heuristic return-risk rules disagree systematically? Rule
      // A flags discount >= 5%, rule B flags quantity >= 25; truth is an
      // actual return. McNemar reads ONLY the discordant cells — the
      // paired design cancels the shared difficulty of the rows both
      // rules get right/wrong.
      val li = table(s, d, "lineitem")
      val truth = col("l_returnflag") === "R"
      Inference.mcnemar(li,
        (floor(col("l_discount") * 1000 + 0.5).cast("long") >= 50L) === truth,
        (col("l_quantity").cast("long") >= 25L) === truth)
    }, Some(
      """WITH v AS (SELECT
        |    (CAST(floor(l_discount * 1000 + 0.5) AS BIGINT) >= 50)
        |      = (l_returnflag = 'R') AS a_ok,
        |    (CAST(l_quantity AS BIGINT) >= 25) = (l_returnflag = 'R') AS b_ok
        |  FROM lineitem),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN a_ok AND b_ok THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_both,
        |        CAST(sum(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n_a_only,
        |        CAST(sum(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n_b_only,
        |        CAST(sum(CASE WHEN NOT a_ok AND NOT b_ok THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n_neither
        |      FROM v)
        |SELECT n, n_both, n_a_only, n_b_only, n_neither,
        |       CASE WHEN n_a_only + n_b_only > 0
        |            THEN CAST((n_a_only - n_b_only) * (n_a_only - n_b_only)
        |                      AS DOUBLE)
        |               / CAST(n_a_only + n_b_only AS DOUBLE) END AS chi2,
        |       CASE WHEN n_a_only + n_b_only > 0
        |            THEN CAST(greatest(abs(n_a_only - n_b_only) - 1, 0)
        |                      * greatest(abs(n_a_only - n_b_only) - 1, 0)
        |                      AS DOUBLE)
        |               / CAST(n_a_only + n_b_only AS DOUBLE) END AS chi2_cc
        |FROM a""".stripMargin)),

    QueryDef("q390_brown_forsythe", (s, d) =>
      // is balance SPREAD homogeneous across market segments? ANOVA on
      // absolute deviations from each segment's exact median (cents are
      // safe here — deviations are bounded by the balance range, not the
      // order book).
      Inference.brownForsythe(table(s, d, "customer"),
        Features.cents(col("c_acctbal")), col("c_mktsegment")),
      Some(
        s"""WITH v AS (SELECT c_mktsegment AS g,
           |                  ${centsSql("c_acctbal")} AS x FROM customer),
           |m AS (SELECT g, CAST(2 * median(x) AS BIGINT) AS med2
           |      FROM v GROUP BY 1),
           |dv AS (SELECT v.g, abs(2 * v.x - m.med2) AS x
           |       FROM v JOIN m ON v.g = m.g),
           |gg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g,
           |              sum(CAST(x AS HUGEINT)) AS s_g,
           |              sum(CAST(x AS HUGEINT) * x) AS q_g
           |       FROM dv GROUP BY 1),
           |t AS (SELECT *, (s_g * s_g) // n_g AS bterm FROM gg),
           |a AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
           |             CAST(count(*) AS BIGINT) AS k,
           |             sum(s_g) AS s, sum(q_g) AS q, sum(bterm) AS b
           |      FROM t)
           |SELECT n, k,
           |       CAST(greatest(0, b - (s * s) // n) AS BIGINT) AS ssb,
           |       CAST(q - b AS BIGINT) AS ssw,
           |       CASE WHEN k > 1 AND n > k AND q - b > 0
           |            THEN CAST(CAST(greatest(0, b - (s * s) // n) AS HUGEINT)
           |                      * (n - k) AS DOUBLE)
           |               / CAST(CAST(q - b AS HUGEINT) * (k - 1) AS DOUBLE)
           |       END AS f_stat
           |FROM a""".stripMargin)),

    QueryDef("q391_cohens_d", (s, d) =>
      // effect SIZE of purchase-vs-view amounts (milli units) — the
      // parametric companion to q263's Mann-Whitney on the same split:
      // U says "is there a shift", d says "how many pooled SDs wide".
      Inference.cohensD(
        events(s, d).filter(col("event_type").isin("view", "purchase")),
        floor(col("value") * 1000 + 0.5).cast("long"),
        col("event_type") === "purchase"),
      Some(
        """WITH v AS (SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT) AS x,
          |                  (event_type = 'purchase') AS b
          |           FROM events WHERE event_type IN ('view', 'purchase')),
          |a AS (SELECT
          |    CAST(sum(CASE WHEN b THEN 0 ELSE 1 END) AS BIGINT) AS n_a,
          |    CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
          |    sum(CASE WHEN b THEN CAST(0 AS HUGEINT)
          |             ELSE CAST(x AS HUGEINT) END) AS s_a,
          |    sum(CASE WHEN b THEN CAST(x AS HUGEINT)
          |             ELSE CAST(0 AS HUGEINT) END) AS s_b,
          |    sum(CASE WHEN b THEN CAST(0 AS HUGEINT)
          |             ELSE CAST(x AS HUGEINT) * x END) AS q_a,
          |    sum(CASE WHEN b THEN CAST(x AS HUGEINT) * x
          |             ELSE CAST(0 AS HUGEINT) END) AS q_b
          |  FROM v),
          |w AS (SELECT *, CAST((q_a - (s_a * s_a) // n_a)
          |                     + (q_b - (s_b * s_b) // n_b) AS BIGINT) AS ssw
          |      FROM a),
          |f AS (SELECT n_a, n_b, ssw,
          |        CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 2 AND ssw > 0
          |             THEN CAST(s_b * n_a - s_a * n_b AS DOUBLE)
          |                / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE)
          |                / sqrt(CAST(ssw AS DOUBLE)
          |                       / CAST(n_a + n_b - 2 AS DOUBLE)) END AS d
          |      FROM w)
          |SELECT n_a, n_b, ssw, d,
          |       d * (1.0 - 3.0 / CAST(4 * (n_a + n_b - 2) - 1 AS DOUBLE))
          |         AS hedges_g
          |FROM f""".stripMargin)),

    QueryDef("q392_cochran_armitage", (s, d) =>
      // does return probability TREND with discount depth? The ordered-
      // dose test with permille discounts as their own scores — more
      // powerful than the unordered chi-square when the alternative is
      // monotone.
      Inference.cochranArmitage(table(s, d, "lineitem"),
        floor(col("l_discount") * 1000 + 0.5).cast("long"),
        col("l_returnflag") === "R"),
      Some(
        """WITH v AS (SELECT CAST(floor(l_discount * 1000 + 0.5) AS BIGINT) AS w,
          |                  (l_returnflag = 'R') AS s FROM lineitem),
          |g AS (SELECT w, CAST(count(*) AS BIGINT) AS n_i,
          |             CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS r_i
          |      FROM v GROUP BY 1),
          |a AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
          |             CAST(sum(r_i) AS BIGINT) AS r,
          |             CAST(sum(CAST(w AS HUGEINT) * n_i) AS BIGINT) AS w1,
          |             sum(CAST(w AS HUGEINT) * w * n_i) AS w2,
          |             CAST(sum(CAST(w AS HUGEINT) * r_i) AS BIGINT) AS t
          |      FROM g)
          |SELECT n, r, w1, t,
          |       CASE WHEN r > 0 AND r < n
          |                 AND CAST(n AS HUGEINT) * w2 > CAST(w1 AS HUGEINT) * w1
          |            THEN CAST(CAST(n AS HUGEINT) * t
          |                      - CAST(r AS HUGEINT) * w1 AS DOUBLE)
          |               / sqrt(CAST(CAST(r AS HUGEINT) * (n - r)
          |                           * (CAST(n AS HUGEINT) * w2
          |                              - CAST(w1 AS HUGEINT) * w1) AS DOUBLE)
          |                      / CAST(n AS DOUBLE)) END AS z
          |FROM a""".stripMargin)),

    QueryDef("q393_fifo_allocation", (s, d) => {
      // FIFO lot matching per part: completed lines ('F') are the supply
      // layers, open lines ('O') the demand, both in shipdate order;
      // each matched slice is priced at its supply layer's unit cost.
      // The cumulative-interval join does the whole allocation without
      // recursion.
      val li = table(s, d, "lineitem")
      val ord = datediff(to_date(col("l_shipdate")),
        lit("1970-01-01").cast("date")).cast("long") * 1000000000000L +
        col("l_orderkey") * 10L + col("l_linenumber")
      val unitCents =
        floor(col("l_extendedprice") / col("l_quantity") * 100 + lit(0.5))
          .cast("long")
      Features.fifoAllocate(
        li.filter(col("l_linestatus") === "F"),
        li.filter(col("l_linestatus") === "O"),
        "l_partkey",
        ord, col("l_quantity"), unitCents,
        ord, col("l_quantity"))
    }, Some(
      """WITH b AS (SELECT l_partkey AS k,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      * 1000000000000 + l_orderkey * 10 + l_linenumber AS ord,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(floor(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT)
        |      AS unit_cents,
        |    l_linestatus AS st
        |  FROM lineitem),
        |s AS (SELECT k, ord AS s_ord, qty AS s_qty, unit_cents,
        |             sum(qty) OVER (PARTITION BY k ORDER BY ord) AS s_hi
        |      FROM b WHERE st = 'F'),
        |d AS (SELECT k, ord AS d_ord, qty AS d_qty,
        |             sum(qty) OVER (PARTITION BY k ORDER BY ord) AS d_hi
        |      FROM b WHERE st = 'O')
        |SELECT s.k, d.d_ord, s.s_ord,
        |       CAST(least(s.s_hi, d.d_hi)
        |            - greatest(s.s_hi - s.s_qty, d.d_hi - d.d_qty) AS BIGINT)
        |         AS matched_qty,
        |       s.unit_cents,
        |       CAST((least(s.s_hi, d.d_hi)
        |             - greatest(s.s_hi - s.s_qty, d.d_hi - d.d_qty))
        |            * s.unit_cents AS BIGINT) AS cost_cents
        |FROM s JOIN d
        |  ON s.k = d.k AND s.s_hi - s.s_qty < d.d_hi
        |     AND d.d_hi - d.d_qty < s.s_hi""".stripMargin)),

    QueryDef("q394_competing_risks", (s, d) => {
      // per user, the clock starts at their first event and stops at
      // their first PURCHASE (cause A) or first ERROR (cause B),
      // whichever comes first (tie -> purchase); users hitting neither
      // are censored at their last event. Aalen-Johansen CIFs, exact ppm.
      val u = events(s, d).groupBy(col("user_id")).agg(
        min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("ta"),
        min(when(col("event_type") === "error", col("ts"))).as("tb"),
        max(col("ts")).as("tmax"))
      val isA = col("ta").isNotNull &&
        (col("tb").isNull || col("ta") <= col("tb"))
      val isB = !isA && col("tb").isNotNull
      val dur = when(isA,
        datediff(to_date(col("ta")), to_date(col("t0"))))
        .when(isB, datediff(to_date(col("tb")), to_date(col("t0"))))
        .otherwise(datediff(to_date(col("tmax")), to_date(col("t0"))))
        .cast("long")
      Inference.competingRisks(
        u.select(dur.as("dur"), isA.as("ca"), isB.as("cb")),
        col("dur"), col("ca"), col("cb"))
    }, Some(
      """WITH RECURSIVE u AS (
        |  SELECT user_id, min(ts) AS t0,
        |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS ta,
        |         min(CASE WHEN event_type = 'error' THEN ts END) AS tb,
        |         max(ts) AS tmax
        |  FROM events GROUP BY 1),
        |s0 AS (SELECT
        |    CASE WHEN ta IS NOT NULL AND (tb IS NULL OR ta <= tb)
        |         THEN date_diff('day', CAST(t0 AS DATE), CAST(ta AS DATE))
        |         WHEN tb IS NOT NULL
        |         THEN date_diff('day', CAST(t0 AS DATE), CAST(tb AS DATE))
        |         ELSE date_diff('day', CAST(t0 AS DATE), CAST(tmax AS DATE))
        |    END AS dur,
        |    (ta IS NOT NULL AND (tb IS NULL OR ta <= tb)) AS ca,
        |    (NOT (ta IS NOT NULL AND (tb IS NULL OR ta <= tb))
        |     AND tb IS NOT NULL) AS cb
        |  FROM u),
        |dr AS (SELECT dur, count(*) AS n_exit,
        |              sum(CASE WHEN ca THEN 1 ELSE 0 END) AS d_a,
        |              sum(CASE WHEN cb AND NOT ca THEN 1 ELSE 0 END) AS d_b
        |       FROM s0 GROUP BY 1),
        |c AS (SELECT dur, d_a, d_b,
        |             (SELECT sum(n_exit) FROM dr)
        |               - coalesce(sum(n_exit) OVER (ORDER BY dur
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |               AS at_risk
        |      FROM dr),
        |st AS (SELECT row_number() OVER (ORDER BY dur) AS rn, dur, at_risk,
        |              d_a, d_b
        |       FROM c WHERE d_a + d_b > 0),
        |aj AS (
        |  SELECT rn, dur, at_risk, d_a, d_b,
        |         (1000000 * (at_risk - d_a - d_b)) // at_risk AS surv,
        |         (1000000 * d_a) // at_risk AS cif_a,
        |         (1000000 * d_b) // at_risk AS cif_b
        |  FROM st WHERE rn = 1
        |  UNION ALL
        |  SELECT st.rn, st.dur, st.at_risk, st.d_a, st.d_b,
        |         (aj.surv * (st.at_risk - st.d_a - st.d_b)) // st.at_risk,
        |         aj.cif_a + (aj.surv * st.d_a) // st.at_risk,
        |         aj.cif_b + (aj.surv * st.d_b) // st.at_risk
        |  FROM st JOIN aj ON st.rn = aj.rn + 1)
        |SELECT CAST(dur AS BIGINT) AS duration,
        |       CAST(at_risk AS BIGINT) AS at_risk,
        |       CAST(d_a AS BIGINT) AS d_a, CAST(d_b AS BIGINT) AS d_b,
        |       CAST(surv AS BIGINT) AS surv_ppm,
        |       CAST(cif_a AS BIGINT) AS cif_a_ppm,
        |       CAST(cif_b AS BIGINT) AS cif_b_ppm
        |FROM aj""".stripMargin)),

    QueryDef("q395_capture_recapture", (s, d) => {
      // how many BUYERS does the event stream actually have? Two capture
      // samples — purchasers on days 0-1 and days 2-3 from the stream's
      // first day (purchases are ~20% of events, so a 2-day window
      // captures a PARTIAL sample; whole-week all-event windows saturate
      // to every user and estimate nothing) — give the Lincoln-Petersen
      // estimate and Chapman's bias-corrected variant: the dataset-card
      // "estimated population vs observed" readout, exact integers.
      val e = events(s, d).filter(col("event_type") === "purchase")
      val t0 = e.agg(min(to_date(col("ts"))).as("d0"))
      val flags = e.crossJoin(broadcast(t0))
        .select(col("user_id"),
          datediff(to_date(col("ts")), col("d0")).as("dd"))
        .groupBy(col("user_id"))
        .agg(max(when(col("dd") < 2, 1L).otherwise(0L)).as("in_a"),
          max(when(col("dd") >= 2 && col("dd") < 4, 1L).otherwise(0L))
            .as("in_b"))
      flags.agg(
        sum(col("in_a")).as("n1"), sum(col("in_b")).as("n2"),
        sum(when(col("in_a") === 1L && col("in_b") === 1L, 1L).otherwise(0L))
          .as("m"))
        .select(col("n1"), col("n2"), col("m"),
          (call_function("div", (col("n1") + 1L) * (col("n2") + 1L),
            col("m") + 1L) - 1L).as("chapman_est"),
          when(col("m") > 0L, call_function("div",
            col("n1") * col("n2") * 1000L, col("m"))).as("petersen_milli"))
    }, Some(
      """WITH p AS (SELECT user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |f AS (SELECT user_id,
        |    max(CASE WHEN date_diff('day',
        |          (SELECT CAST(min(ts) AS DATE) FROM p),
        |          CAST(ts AS DATE)) < 2 THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN date_diff('day',
        |          (SELECT CAST(min(ts) AS DATE) FROM p),
        |          CAST(ts AS DATE)) BETWEEN 2 AND 3 THEN 1 ELSE 0 END) AS in_b
        |  FROM p GROUP BY 1),
        |a AS (SELECT CAST(sum(in_a) AS BIGINT) AS n1,
        |             CAST(sum(in_b) AS BIGINT) AS n2,
        |             CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
        |                  AS BIGINT) AS m
        |      FROM f)
        |SELECT n1, n2, m,
        |       CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT) AS chapman_est,
        |       CASE WHEN m > 0
        |            THEN CAST(n1 * n2 * 1000 // m AS BIGINT)
        |       END AS petersen_milli
        |FROM a""".stripMargin)),

    QueryDef("q396_nrr_bridge", (s, d) =>
      // monthly net-revenue-retention statement over the order book:
      // last month's customer revenue decomposed into retained /
      // expansion / contraction / churned plus new-logo revenue, with
      // NRR and GRR in exact ppm.
      Features.nrrBridge(table(s, d, "orders"),
        year(col("o_orderdate")) * 12 + month(col("o_orderdate")),
        col("o_custkey"), Features.cents(col("o_totalprice"))),
      Some(
        s"""WITH r AS (SELECT
           |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
           |    o_custkey AS cust,
           |    CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS rev
           |  FROM orders GROUP BY 1, 2),
           |j AS (SELECT coalesce(c.m, p.m + 1) AS m, c.rev AS rev,
           |             p.rev AS prev_rev
           |      FROM r c FULL JOIN r p ON c.cust = p.cust AND c.m = p.m + 1),
           |a AS (SELECT m,
           |        CAST(sum(coalesce(prev_rev, 0)) AS BIGINT) AS starting,
           |        CAST(sum(CASE WHEN rev IS NOT NULL AND prev_rev IS NOT NULL
           |                           AND rev > prev_rev
           |                      THEN rev - prev_rev ELSE 0 END) AS BIGINT)
           |          AS expansion,
           |        CAST(sum(CASE WHEN rev IS NOT NULL AND prev_rev IS NOT NULL
           |                           AND rev < prev_rev
           |                      THEN prev_rev - rev ELSE 0 END) AS BIGINT)
           |          AS contraction,
           |        CAST(sum(CASE WHEN rev IS NULL THEN prev_rev ELSE 0 END)
           |             AS BIGINT) AS churned,
           |        CAST(sum(CASE WHEN prev_rev IS NULL THEN rev ELSE 0 END)
           |             AS BIGINT) AS new_rev
           |      FROM j GROUP BY 1)
           |SELECT m, starting, expansion, contraction, churned, new_rev,
           |       CASE WHEN starting > 0
           |            THEN CAST((CAST(starting + expansion - contraction
           |                            - churned AS HUGEINT) * 1000000)
           |                      // starting AS BIGINT) END AS nrr_ppm,
           |       CASE WHEN starting > 0
           |            THEN CAST((CAST(starting - contraction - churned
           |                            AS HUGEINT) * 1000000)
           |                      // starting AS BIGINT) END AS grr_ppm
           |FROM a""".stripMargin)),

    QueryDef("q397_exposure_bias", (s, d) => {
      // popularity-bias audit of the q321 recommender: how concentrated
      // is item EXPOSURE across all top-3 lists (exact-ppm Gini over
      // per-item slot counts), and what share of the catalog is ever
      // recommended at all — the two standard recommender-health numbers
      // (here: 89% coverage, exposure Gini 0.30).
      val recs = Features.itemNeighbors(table(s, d, "lineitem"),
        col("l_orderkey").cast("long"), col("l_partkey").cast("long"),
        k = 3, minSupport = 2)
      val expo = recs.groupBy(col("neighbor")).agg(count(lit(1)).as("expo"))
      val g = Inference.gini(expo, Nil, col("expo"))
      val catalog = table(s, d, "part")
        .agg(countDistinct(col("p_partkey")).as("catalog_n"))
      g.crossJoin(broadcast(catalog)).select(
        col("n").as("n_recommended"), col("total").as("n_slots"),
        col("catalog_n"),
        call_function("div", col("n") * 1000000L, col("catalog_n"))
          .as("coverage_ppm"),
        col("gini_ppm").as("exposure_gini_ppm"))
    }, Some(
      """WITH items AS (
        |  SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS basket,
        |                  CAST(l_partkey AS BIGINT) AS item
        |  FROM lineitem),
        |m AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
        |      FROM items GROUP BY 1),
        |p AS (
        |  SELECT a.item AS item_a, b.item AS item_b,
        |         CAST(count(*) AS BIGINT) AS n_both
        |  FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (
        |  SELECT item_a AS item, item_b AS neighbor, n_both,
        |         ma.n_item AS n_i, mb.n_item AS n_n
        |  FROM p JOIN m ma ON ma.item = p.item_a JOIN m mb ON mb.item = p.item_b
        |  UNION ALL
        |  SELECT item_b, item_a, n_both, mb.n_item, ma.n_item
        |  FROM p JOIN m ma ON ma.item = p.item_a JOIN m mb ON mb.item = p.item_b),
        |sc AS (SELECT item, neighbor, n_both,
        |              CAST(n_both AS DOUBLE) / sqrt(CAST(n_i AS DOUBLE) * n_n)
        |                AS cosine
        |       FROM sym),
        |topk AS (SELECT neighbor FROM (
        |           SELECT *, row_number() OVER (PARTITION BY item
        |             ORDER BY cosine DESC, neighbor ASC) AS rank FROM sc) t
        |         WHERE rank <= 3),
        |e AS (SELECT neighbor, CAST(count(*) AS BIGINT) AS expo
        |      FROM topk GROUP BY 1),
        |r AS (SELECT expo, row_number() OVER (ORDER BY expo) AS i FROM e),
        |gn AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(expo) AS BIGINT) AS total,
        |              CAST((2 * sum(CAST(i AS HUGEINT) * expo)
        |                    - (count(*) + 1) * sum(CAST(expo AS HUGEINT)))
        |                   * 1000000
        |                   // (CAST(count(*) AS HUGEINT) * sum(expo))
        |                   AS BIGINT) AS gini_ppm
        |       FROM r),
        |c AS (SELECT CAST(count(DISTINCT p_partkey) AS BIGINT) AS catalog_n
        |      FROM part)
        |SELECT gn.n AS n_recommended, gn.total AS n_slots, c.catalog_n,
        |       CAST(CAST(gn.n AS HUGEINT) * 1000000 // c.catalog_n AS BIGINT)
        |         AS coverage_ppm,
        |       gn.gini_ppm AS exposure_gini_ppm
        |FROM gn, c""".stripMargin)),

    QueryDef("q398_two_hop_reach", (s, d) => {
      // HyperANF step: estimated 2-hop audience per probe customer
      // (customers sharing a supplier) WITHOUT materializing the
      // neighbor-of-neighbor pairs — each supplier's customer set becomes
      // an HLL register table once (bounded: suppliers x 256 rows), and a
      // probe's 2-hop sketch is the bucket-max MERGE of its suppliers'
      // registers. This is the neighborhood-function recipe that scales
      // to billion-edge graphs where the exact distinct blows up on hub
      // nodes. Probe panel: every 100th customer. Edges are restricted to
      // BULK lines (quantity >= 45, ~12% of lines) — on the full link
      // graph every customer 2-hop-reaches ~everyone (each holds ~1/3 of
      // all suppliers) and the estimate saturates to the population; the
      // bulk subgraph keeps reach partial and probe-dependent.
      import graft.functions.Sketches
      val edges = table(s, d, "orders")
        .join(table(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_quantity") >= 45)
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct()
        .pinLazy() // feeds registers AND the probe panel
      val supRegs = Sketches.hllRegisters(edges, Seq("s"), col("c"))
      val probes = edges.filter(col("c") % 100 === 0)
      val merged = probes.join(supRegs, "s")
        .groupBy(col("c"), col("hll_bucket"))
        .agg(max(col("hll_rho")).as("hll_rho"), max(col("hll_b")).as("hll_b"))
      val est = Sketches.hllEstimate(merged, Seq("c"))
      val nsup = probes.groupBy(col("c")).agg(count(lit(1)).as("n_suppliers"))
      est.join(nsup, "c")
        .select(col("c").as("o_custkey"), col("n_suppliers"),
          col("hll_estimate"))
    }, Some(
      """WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |           WHERE l_quantity >= 45),
        |regs AS (
        |  SELECT s,
        |         ('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 2))::INT AS bucket,
        |         max(coalesce(nullif(strpos(
        |           lpad(bin(('0x' || substr(md5(CAST(c AS VARCHAR)), 3, 8))::BIGINT), 32, '0'),
        |           '1'), 0), 33)) AS rho
        |  FROM e GROUP BY 1, 2),
        |pe AS (SELECT c, s FROM e WHERE c % 100 = 0),
        |mr AS (SELECT pe.c, regs.bucket, max(regs.rho) AS rho
        |       FROM pe JOIN regs ON regs.s = pe.s GROUP BY 1, 2),
        |est AS (
        |  SELECT c,
        |         0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)
        |           * 256.0::DOUBLE * 256.0::DOUBLE
        |           / (sum(CAST(1.0 AS DOUBLE) / CAST(1::BIGINT << rho AS DOUBLE))
        |              + CAST(256 - count(*) AS DOUBLE)) AS hll_estimate
        |  FROM mr GROUP BY 1),
        |ns AS (SELECT c, CAST(count(*) AS BIGINT) AS n_suppliers
        |       FROM pe GROUP BY 1)
        |SELECT est.c AS o_custkey, ns.n_suppliers, est.hll_estimate
        |FROM est JOIN ns ON ns.c = est.c""".stripMargin)),

    QueryDef("q399_croston", (s, d) =>
      // intermittent weekly part demand (most part-weeks are zero —
      // exactly where EWMA/Holt collapse): Croston size/interval
      // smoothing at alpha = 1/5, forecast in quantity-milli per week.
      Stats.crostonDemand(
        table(s, d, "lineitem").select(col("l_partkey"),
          call_function("div",
            datediff(to_date(col("l_shipdate")),
              lit("1970-01-01").cast("date")).cast("long"), lit(7L))
            .as("wk"),
          col("l_quantity")),
        Seq("l_partkey"), col("wk"), col("l_quantity"),
        alphaNum = 1, alphaDen = 5),
      Some(
        """WITH RECURSIVE dm AS (
          |  SELECT l_partkey AS k,
          |         CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
          |           // 7 AS period,
          |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
          |  FROM lineitem GROUP BY 1, 2
          |  HAVING sum(CAST(l_quantity AS BIGINT)) > 0),
          |sq AS (SELECT k, period, q,
          |              row_number() OVER (PARTITION BY k ORDER BY period) AS rn
          |       FROM dm),
          |cr AS (
          |  SELECT k, rn, period, q, CAST(1 AS BIGINT) AS gap,
          |         CAST(q * 1000000 AS BIGINT) AS z,
          |         CAST(1000000 AS BIGINT) AS p
          |  FROM sq WHERE rn = 1
          |  UNION ALL
          |  SELECT s.k, s.rn, s.period, s.q,
          |         CAST(s.period - cr.period AS BIGINT) AS gap,
          |         CAST((1 * s.q * 1000000 + 4 * cr.z) // 5 AS BIGINT),
          |         CAST((1 * (s.period - cr.period) * 1000000 + 4 * cr.p) // 5
          |              AS BIGINT)
          |  FROM sq s JOIN cr ON s.k = cr.k AND s.rn = cr.rn + 1)
          |SELECT k AS l_partkey, period, q, gap,
          |       z AS z_micro, p AS p_micro,
          |       CAST(CAST(z AS HUGEINT) * 1000 // p AS BIGINT)
          |         AS forecast_milli
          |FROM cr""".stripMargin)),

    QueryDef("q400_vocab_overlap", (s, d) => {
      // corpus-similarity matrix for mixture design: exact vocabulary
      // Jaccard between every source pair over distinct (source, BIGRAM)
      // rows — the self-join is VOCABULARY-sized, never corpus-sized.
      // Bigrams, not unigrams: the synthetic unigram vocab saturates at
      // 31 shared tokens and every pair reads 1.0 (the q362 lesson);
      // bigram vocabularies differ by source and the matrix has signal.
      import graft.pipeline.{TextAnalysis => TA}
      // tokenize is CPU-bound — spread the single-split corpus scan
      // (Sources.fanOut scaladoc; measured 3.4 -> 1.5 s)
      val v = graft.sources.Sources.fanOut(table(s, d, "documents"))
        .filter(col("text").isNotNull)
        .select(col("source"),
          explode(TA.ngramsFromTokens(TA.tokens(col("text")), 2)).as("tok"))
        .distinct()
        .pinLazy() // feeds sizes AND both self-join arms
      val sizes = v.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      val inter = v.as("a")
        .join(v.as("b"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(sizes.select(col("source").as("source_a"), col("nv").as("nv_a")),
          "source_a")
        .join(sizes.select(col("source").as("source_b"), col("nv").as("nv_b")),
          "source_b")
        .select(col("source_a"), col("source_b"), col("nv_a"), col("nv_b"),
          col("n_inter"),
          (col("nv_a") + col("nv_b") - col("n_inter")).as("n_union"),
          call_function("div", col("n_inter") * 1000000L,
            col("nv_a") + col("nv_b") - col("n_inter")).as("jaccard_ppm"))
    }, Some(
      """WITH g AS (
        |  SELECT source, CASE WHEN len(string_split(text, ' ')) >= 2
        |           THEN list_transform(
        |                  generate_series(1, len(string_split(text, ' ')) - 1),
        |                  i -> string_split(text, ' ')[i] || ' '
        |                       || string_split(text, ' ')[i + 1])
        |           ELSE CAST([] AS VARCHAR[]) END AS gs
        |  FROM documents WHERE text IS NOT NULL),
        |v AS (
        |  SELECT DISTINCT source, u.t AS tok
        |  FROM g, LATERAL (SELECT unnest(gs) AS t) u),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM v GROUP BY 1),
        |i AS (SELECT a.source AS source_a, b.source AS source_b,
        |             CAST(count(*) AS BIGINT) AS n_inter
        |      FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT source_a, source_b, sa.nv AS nv_a, sb.nv AS nv_b, n_inter,
        |       CAST(sa.nv + sb.nv - n_inter AS BIGINT) AS n_union,
        |       CAST(CAST(n_inter AS HUGEINT) * 1000000
        |            // (sa.nv + sb.nv - n_inter) AS BIGINT) AS jaccard_ppm
        |FROM i JOIN s sa ON sa.source = i.source_a
        |       JOIN s sb ON sb.source = i.source_b""".stripMargin)),

    QueryDef("q401_its_regression", (s, d) =>
      // interrupted time series on daily revenue cents with the break at
      // 1998-01-01 (day 10227): per-side OLS fits, slope change, and the
      // level shift AT the break — the no-control-series causal readout.
      Features.itsRegression(
        table(s, d, "orders")
          .groupBy(datediff(to_date(col("o_orderdate")),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg(sum(Features.cents(col("o_totalprice"))).as("y")),
        col("day"), col("y"), breakDay = 10227L),
      Some(
        s"""WITH d AS (
           |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
           |              AS BIGINT) AS x,
           |         CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS y
           |  FROM orders GROUP BY 1),
           |m AS (SELECT (x >= 10227) AS post, CAST(count(*) AS BIGINT) AS n,
           |             sum(CAST(x AS HUGEINT)) AS sx,
           |             sum(CAST(y AS HUGEINT)) AS sy,
           |             sum(CAST(x AS HUGEINT) * x) AS sxx,
           |             sum(CAST(x AS HUGEINT) * y) AS sxy
           |      FROM d GROUP BY 1),
           |f AS (SELECT post, n,
           |        CASE WHEN n * sxx - sx * sx <> 0
           |             THEN CAST(n * sxy - sx * sy AS DOUBLE)
           |                / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
           |        CASE WHEN n * sxx - sx * sx <> 0
           |             THEN CAST(sy * sxx - sx * sxy AS DOUBLE)
           |                / CAST(n * sxx - sx * sx AS DOUBLE) END AS icept
           |      FROM m)
           |SELECT pre.n AS n_pre, pre.slope AS slope_pre,
           |       pre.icept AS intercept_pre,
           |       post.n AS n_post, post.slope AS slope_post,
           |       post.icept AS intercept_post,
           |       post.slope - pre.slope AS slope_change,
           |       (post.icept + post.slope * ${10227L.toDouble})
           |         - (pre.icept + pre.slope * ${10227L.toDouble})
           |         AS level_shift
           |FROM (SELECT * FROM f WHERE NOT post) pre,
           |     (SELECT * FROM f WHERE post) post""".stripMargin)),

    QueryDef("q402_association_rules", (s, d) =>
      // directed cross-sell rules over order baskets: both orientations
      // of the q249 pair rollup with support / confidence / lift /
      // conviction, all exact single divisions.
      Features.associationRules(table(s, d, "lineitem"),
        col("l_orderkey").cast("long"), col("l_partkey").cast("long"),
        minSupport = 2),
      Some(
        """WITH items AS (
          |  SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS basket,
          |                  CAST(l_partkey AS BIGINT) AS item
          |  FROM lineitem),
          |n AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS nb FROM items),
          |m AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
          |      FROM items GROUP BY 1),
          |p AS (
          |  SELECT a.item AS item_a, b.item AS item_b,
          |         CAST(count(*) AS BIGINT) AS n_both
          |  FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          |dir AS (
          |  SELECT item_a AS antecedent, item_b AS consequent, n_both,
          |         ma.n_item AS n_ant, mb.n_item AS n_con
          |  FROM p JOIN m ma ON ma.item = p.item_a JOIN m mb ON mb.item = p.item_b
          |  UNION ALL
          |  SELECT item_b, item_a, n_both, mb.n_item, ma.n_item
          |  FROM p JOIN m ma ON ma.item = p.item_a JOIN m mb ON mb.item = p.item_b)
          |SELECT antecedent, consequent, n_both, n_ant, n_con,
          |       CAST(CAST(n_both AS HUGEINT) * 1000000 // nb AS BIGINT)
          |         AS support_ppm,
          |       CAST(CAST(n_both AS HUGEINT) * 1000000 // n_ant AS BIGINT)
          |         AS confidence_ppm,
          |       CAST(CAST(n_both AS HUGEINT) * nb * 1000
          |            // (CAST(n_ant AS HUGEINT) * n_con) AS BIGINT)
          |         AS lift_milli,
          |       CASE WHEN n_ant > n_both
          |            THEN CAST(CAST(nb - n_con AS HUGEINT) * n_ant * 1000
          |                      // (CAST(nb AS HUGEINT) * (n_ant - n_both))
          |                      AS BIGINT) END AS conviction_milli
          |FROM dir CROSS JOIN n""".stripMargin)),

    QueryDef("q404_friedman", (s, d) =>
      // does any event TYPE run consistently hotter, judging within each
      // week so seasonal volume shifts cancel? Friedman over (week x
      // type) counts — the repeated-measures rank companion to q388's
      // unblocked Kruskal-Wallis.
      Inference.friedman(
        events(s, d).groupBy(
          call_function("div",
            datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
              .cast("long"), lit(7L)).as("wk"),
          col("event_type").as("et"))
          .agg(count(lit(1)).as("y")),
        col("wk"), col("et"), col("y")),
      Some(
        """WITH c AS (
          |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) // 7
          |           AS blk,
          |         event_type AS t, CAST(count(*) AS BIGINT) AS y
          |  FROM events GROUP BY 1, 2),
          |k AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM c),
          |cb AS (SELECT c.*, k.k,
          |              count(*) OVER (PARTITION BY blk) AS bk FROM c, k),
          |cc AS (SELECT * FROM cb WHERE bk = k),
          |r AS (SELECT blk, t, k,
          |             2 * rank() OVER (PARTITION BY blk ORDER BY y)
          |               + count(*) OVER (PARTITION BY blk, y) - 1 AS r2
          |      FROM cc),
          |pt AS (SELECT t, k, CAST(count(*) AS BIGINT) AS b,
          |              CAST(sum(r2) AS BIGINT) AS r2s,
          |              sum(CAST(r2 AS HUGEINT) * r2) AS a2p
          |       FROM r GROUP BY 1, 2),
          |a AS (SELECT k, max(b) AS b, sum(a2p) AS a2,
          |             sum(CAST(r2s - b * (k + 1) AS HUGEINT)
          |                 * (r2s - b * (k + 1))) AS num
          |      FROM pt GROUP BY 1)
          |SELECT b AS n_blocks, k,
          |       CAST(a2 - CAST(b AS HUGEINT) * k * (k + 1) * (k + 1)
          |            AS BIGINT) AS tie_spread,
          |       CASE WHEN a2 > CAST(b AS HUGEINT) * k * (k + 1) * (k + 1)
          |            THEN CAST((k - 1) * num AS DOUBLE)
          |               / CAST(a2 - CAST(b AS HUGEINT) * k * (k + 1) * (k + 1)
          |                      AS DOUBLE) END AS chi2
          |FROM a""".stripMargin)),

    QueryDef("q405_jonckheere", (s, d) =>
      // is order value MONOTONE in the priority scale (1-URGENT .. 5-LOW)?
      // The ordered-alternative k-group test — more powerful than q387's
      // unordered ANOVA when the hypothesis is a trend. Dose = the
      // priority's leading digit; value = totalprice cents.
      Inference.jonckheereTerpstra(table(s, d, "orders"),
        Features.cents(col("o_totalprice")),
        substring(col("o_orderpriority"), 1, 1).cast("long")),
      Some(
        s"""WITH b0 AS (SELECT ${centsSql("o_totalprice")} AS v,
           |                   CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
           |                     AS g
           |            FROM orders),
           |r AS (SELECT v, g, CAST(count(*) AS BIGINT) AS c
           |      FROM b0 GROUP BY 1, 2),
           |vals AS (SELECT DISTINCT v FROM r),
           |grps AS (SELECT DISTINCT g FROM r),
           |cx AS (SELECT vals.v, grps.g, CAST(coalesce(r.c, 0) AS BIGINT) AS c
           |       FROM vals CROSS JOIN grps
           |       LEFT JOIN r ON r.v = vals.v AND r.g = grps.g),
           |cg AS (SELECT *, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum_g
           |       FROM cx),
           |ce AS (SELECT *,
           |         coalesce(sum(cum_g - c) OVER (PARTITION BY v ORDER BY g
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |           AS below_lower,
           |         coalesce(sum(c) OVER (PARTITION BY v ORDER BY g
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |           AS tied_lower
           |       FROM cg),
           |jt AS (SELECT CAST(sum(c) AS BIGINT) AS n,
           |              CAST(count(DISTINCT g) AS BIGINT) AS k,
           |              CAST(sum(CAST(c AS HUGEINT)
           |                       * (below_lower * 2 + tied_lower)) AS BIGINT)
           |                AS jt2
           |       FROM ce),
           |gs AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM r GROUP BY 1),
           |g2 AS (SELECT sum(CAST(ng AS HUGEINT) * ng) AS sn2,
           |              sum(CAST(ng AS HUGEINT) * (ng - 1) * (2 * ng + 5))
           |                AS sn25,
           |              sum(CAST(ng AS HUGEINT) * (ng - 1) * (ng - 2)) AS sn3,
           |              sum(CAST(ng AS HUGEINT) * (ng - 1)) AS snn
           |       FROM gs),
           |tv AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM r GROUP BY 1),
           |t2 AS (SELECT sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
           |                AS st25,
           |              sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS st3,
           |              sum(CAST(t AS HUGEINT) * (t - 1)) AS stt
           |       FROM tv)
           |SELECT n, k, jt2,
           |       CASE WHEN k > 1 AND n > 2
           |                 AND (CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)
           |                      - sn25 - st25)
           |                     * (CAST(n AS HUGEINT) * (n - 1) * (n - 2))
           |                     + sn3 * st3 * 2
           |                     + snn * stt * 9 * (n - 2) > 0
           |            THEN (CAST(jt2 AS DOUBLE)
           |                  - CAST(CAST(n AS HUGEINT) * n - sn2 AS DOUBLE)
           |                    / 2.0)
           |               / (2.0 * sqrt(
           |                    CAST((CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)
           |                          - sn25 - st25)
           |                         * (CAST(n AS HUGEINT) * (n - 1) * (n - 2))
           |                         + sn3 * st3 * 2
           |                         + snn * stt * 9 * (n - 2) AS DOUBLE)
           |                    / CAST(72 * CAST(n AS HUGEINT) * (n - 1)
           |                           * (n - 2) AS DOUBLE))) END AS z
           |FROM jt, g2, t2""".stripMargin)),

    QueryDef("q406_icc", (s, d) =>
      // how consistent are a customer's order sizes? ICC(1,1) over whole-
      // dollar order values grouped by customer — near 0 here (the
      // synthetic prices are independent of customer), which is the
      // honest baseline a real book would beat.
      Inference.icc(table(s, d, "orders"),
        call_function("div", Features.cents(col("o_totalprice")), lit(100L)),
        col("o_custkey")),
      Some(
        s"""WITH v AS (SELECT ${centsSql("o_totalprice")} // 100 AS x,
           |                  o_custkey AS g FROM orders),
           |g AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g,
           |             sum(CAST(x AS HUGEINT)) AS s_g,
           |             sum(CAST(x AS HUGEINT) * x) AS q_g
           |      FROM v GROUP BY 1),
           |t AS (SELECT *, (s_g * s_g) // n_g AS bterm FROM g),
           |a AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
           |             CAST(count(*) AS BIGINT) AS k,
           |             sum(s_g) AS s, sum(q_g) AS q, sum(bterm) AS b,
           |             CAST(sum(CAST(n_g AS HUGEINT) * n_g) AS BIGINT)
           |               AS sumsq
           |      FROM t),
           |f AS (SELECT n, k, sumsq,
           |             CAST(greatest(0, b - (s * s) // n) AS BIGINT) AS ssb,
           |             CAST(q - b AS BIGINT) AS ssw
           |      FROM a)
           |SELECT n, k, ssb, ssw,
           |       CASE WHEN k > 1
           |            THEN (CAST(n AS DOUBLE)
           |                  - CAST(sumsq AS DOUBLE) / CAST(n AS DOUBLE))
           |                 / CAST(k - 1 AS DOUBLE) END AS n0,
           |       CASE WHEN k > 1 AND n > k AND ssw > 0
           |            THEN (CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE)
           |                  - CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE))
           |               / (CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE)
           |                  + ((CAST(n AS DOUBLE)
           |                      - CAST(sumsq AS DOUBLE) / CAST(n AS DOUBLE))
           |                     / CAST(k - 1 AS DOUBLE) - 1.0)
           |                    * (CAST(ssw AS DOUBLE)
           |                       / CAST(n - k AS DOUBLE))) END AS icc
           |FROM f""".stripMargin)),

    QueryDef("q407_littles_law", (s, d) => {
      // occupancy audit over 30-minute user sessions: the time-in-system
      // integral computed by duration sum AND by boundary sweep must
      // agree exactly (identity_gap 0 — a nonzero gap means the sweep
      // machinery behind every concurrency chart is broken), plus the
      // Little's-law readouts L, W, lambda.
      import org.apache.spark.sql.expressions.{Window => W}
      val ev = events(s, d).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      val wOrd = W.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val sessions = ev
        .withColumn("prev_us", lag(col("us"), 1).over(wOrd))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > 30L * 60 * 1000000, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_session"))
          .over(wOrd.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("us")).as("s"), max(col("us")).as("e"))
      graft.operators.Intervals.littlesLawAudit(sessions, col("s"), col("e"))
    }, Some(
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |flagged AS (
        |  SELECT user_id, us, event_id,
        |         CASE WHEN lag(us) OVER w IS NULL
        |                   OR us - lag(us) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT user_id, us,
        |         sum(new_session) OVER (PARTITION BY user_id
        |           ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
        |           AS session_id
        |  FROM flagged),
        |iv AS (SELECT min(us) AS s, max(us) AS e
        |       FROM sess GROUP BY user_id, session_id),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(e - s) AS BIGINT) AS total_dur_us,
        |             min(s) AS t0, max(e) AS t1
        |      FROM iv),
        |d AS (SELECT b, CAST(sum(dd) AS BIGINT) AS dd FROM (
        |        SELECT s AS b, 1 AS dd FROM iv
        |        UNION ALL SELECT e, -1 FROM iv) z GROUP BY 1),
        |c AS (SELECT b, sum(dd) OVER (ORDER BY b) AS live,
        |             lead(b) OVER (ORDER BY b) AS nb
        |      FROM d),
        |sw AS (SELECT CAST(coalesce(sum(CAST(live AS HUGEINT) * (nb - b)), 0)
        |                   AS BIGINT) AS swept
        |       FROM c WHERE nb IS NOT NULL)
        |SELECT t.n, t.total_dur_us, sw.swept AS swept_dur_us,
        |       CAST(sw.swept - t.total_dur_us AS BIGINT) AS identity_gap,
        |       CAST(t.t1 - t.t0 AS BIGINT) AS span_us,
        |       CASE WHEN t.t1 > t.t0
        |            THEN CAST(CAST(sw.swept AS HUGEINT) * 1000000
        |                      // (t.t1 - t.t0) AS BIGINT) END AS l_micro,
        |       CASE WHEN t.n > 0
        |            THEN CAST(t.total_dur_us // t.n AS BIGINT) END AS w_avg_us,
        |       CASE WHEN t.t1 > t.t0
        |            THEN CAST(CAST(t.n AS HUGEINT) * 3600000000000
        |                      // (t.t1 - t.t0) AS BIGINT) END
        |         AS lambda_per_hour_milli
        |FROM t, sw""".stripMargin)),

    QueryDef("q408_ordinal_association", (s, d) =>
      // is line quantity ordinally associated with order priority
      // (1-URGENT .. 5-LOW)? Gamma / tau-b / Somers' D from one
      // concordant-discordant accounting over the 5 x 50 contingency
      // cells — cell pairs, never row pairs.
      Inference.ordinalAssociation(
        table(s, d, "orders")
          .join(table(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey")),
        substring(col("o_orderpriority"), 1, 1).cast("long"),
        col("l_quantity").cast("long")),
      Some(
        """WITH b0 AS (
          |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
          |         CAST(l_quantity AS BIGINT) AS y
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c
          |          FROM b0 GROUP BY 1, 2),
          |p AS (SELECT
          |        sum(CASE WHEN a.y < b.y THEN CAST(a.c AS HUGEINT) * b.c
          |                 ELSE 0 END) AS cc,
          |        sum(CASE WHEN a.y > b.y THEN CAST(a.c AS HUGEINT) * b.c
          |                 ELSE 0 END) AS dd
          |      FROM cells a JOIN cells b ON a.x < b.x),
          |xt AS (SELECT CAST(sum(r) AS BIGINT) AS n,
          |              sum(CAST(r AS HUGEINT) * (r - 1)) AS tx2
          |       FROM (SELECT sum(c) AS r FROM cells GROUP BY x) z),
          |yt AS (SELECT sum(CAST(cm AS HUGEINT) * (cm - 1)) AS ty2
          |       FROM (SELECT sum(c) AS cm FROM cells GROUP BY y) z)
          |SELECT n, CAST(cc AS BIGINT) AS c_pairs, CAST(dd AS BIGINT) AS d_pairs,
          |       CASE WHEN cc + dd > 0
          |            THEN CAST(cc - dd AS DOUBLE) / CAST(cc + dd AS DOUBLE)
          |       END AS gamma,
          |       CASE WHEN CAST(n AS HUGEINT) * (n - 1) > tx2
          |                 AND CAST(n AS HUGEINT) * (n - 1) > ty2
          |            THEN CAST((cc - dd) * 2 AS DOUBLE)
          |               / (sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - tx2
          |                            AS DOUBLE))
          |                  * sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - ty2
          |                              AS DOUBLE))) END AS tau_b,
          |       CASE WHEN CAST(n AS HUGEINT) * (n - 1) > tx2
          |            THEN CAST((cc - dd) * 2 AS DOUBLE)
          |               / CAST(CAST(n AS HUGEINT) * (n - 1) - tx2 AS DOUBLE)
          |       END AS somers_d_yx,
          |       CASE WHEN CAST(n AS HUGEINT) * (n - 1) > ty2
          |            THEN CAST((cc - dd) * 2 AS DOUBLE)
          |               / CAST(CAST(n AS HUGEINT) * (n - 1) - ty2 AS DOUBLE)
          |       END AS somers_d_xy
          |FROM p, xt, yt""".stripMargin)),

    QueryDef("q409_weighted_kappa", (s, d) => {
      // quadratic-weighted kappa between an ordinal value band and a
      // deterministically perturbed second rating (the LLM-judge /
      // essay-scoring agreement metric): near-misses cost (i-j)^2, so
      // the +-1 perturbation keeps qwk high where plain kappa would
      // crater.
      val a = least(lit(5L), call_function("div",
        call_function("div", Features.cents(col("o_totalprice")), lit(100L)),
        lit(50000L)))
      val b = least(lit(5L),
        greatest(lit(0L), a + pmod(col("o_orderkey"), lit(3L)) - 1L))
      Inference.weightedKappa(table(s, d, "orders"), a, b)
    }, Some(
      s"""WITH r0 AS (
         |  SELECT least(5, (${centsSql("o_totalprice")} // 100) // 50000)
         |           AS ra
         |       , o_orderkey FROM orders),
         |r1 AS (SELECT ra,
         |              least(5, greatest(0, ra + o_orderkey % 3 - 1)) AS rb
         |       FROM r0),
         |cells AS (SELECT ra, rb, CAST(count(*) AS BIGINT) AS c
         |          FROM r1 GROUP BY 1, 2),
         |obs AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |               sum(CAST(ra - rb AS HUGEINT) * (ra - rb) * c) AS wo
         |        FROM cells),
         |rt AS (SELECT ra, CAST(sum(c) AS BIGINT) AS rt
         |       FROM cells GROUP BY 1),
         |ct AS (SELECT rb, CAST(sum(c) AS BIGINT) AS ct
         |       FROM cells GROUP BY 1),
         |we AS (SELECT sum(CAST(rt.ra - ct.rb AS HUGEINT) * (rt.ra - ct.rb)
         |                  * rt.rt * ct.ct) AS we
         |       FROM rt CROSS JOIN ct)
         |SELECT obs.n, CAST(obs.wo AS BIGINT) AS w_observed,
         |       CAST(we.we AS BIGINT) AS w_expected_n,
         |       CASE WHEN we.we > 0
         |            THEN 1.0 - CAST(CAST(obs.n AS HUGEINT) * obs.wo AS DOUBLE)
         |                       / CAST(we.we AS DOUBLE) END AS qwk
         |FROM obs, we""".stripMargin)),

    QueryDef("q410_cochran_q", (s, d) => {
      // do the five event types have equal first-week prevalence, judged
      // within users? Cochran's Q over the full (user x type) binary
      // grid — the dichotomous Friedman (k = 2 would be McNemar).
      // ONE raw scan (plan-audit r12: t0, firstWeek and both grid sides
      // each re-read events — 4 scans): everything derives from the
      // (user, type) min-day rollup — the corpus start is the min of
      // pair minima, a pair is a first-week hit iff its min day beats
      // d0+7, and the grid axes are the rollup's distinct keys.
      val pairDays = events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(to_date(col("ts"))).as("d_min"))
        .pinLazy()
      val t0 = pairDays.agg(min(col("d_min")).as("d0"))
      val firstWeek = pairDays.crossJoin(broadcast(t0))
        .filter(datediff(col("d_min"), col("d0")) < 7)
        .select(col("user_id"), col("event_type"))
        .withColumn("hit", lit(true))
      val grid = pairDays.select(col("user_id")).distinct()
        .crossJoin(pairDays.select(col("event_type")).distinct())
      val flags = grid.join(firstWeek, Seq("user_id", "event_type"), "left")
        .select(col("user_id"), col("event_type"),
          coalesce(col("hit"), lit(false)).as("hit"))
      Inference.cochranQ(flags, col("user_id"), col("event_type"), col("hit"))
    }, Some(
      """WITH d0 AS (SELECT CAST(min(ts) AS DATE) AS d0 FROM events),
        |fw AS (SELECT DISTINCT user_id, event_type FROM events, d0
        |       WHERE date_diff('day', d0.d0, CAST(ts AS DATE)) < 7),
        |u AS (SELECT DISTINCT user_id FROM events),
        |ty AS (SELECT DISTINCT event_type FROM events),
        |g AS (SELECT u.user_id, ty.event_type,
        |             CASE WHEN fw.user_id IS NOT NULL THEN 1 ELSE 0 END AS s
        |      FROM u CROSS JOIN ty
        |      LEFT JOIN fw ON fw.user_id = u.user_id
        |                  AND fw.event_type = ty.event_type),
        |k AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM g),
        |bt AS (SELECT event_type, CAST(sum(s) AS BIGINT) AS cj
        |       FROM g GROUP BY 1),
        |ta AS (SELECT CAST(sum(cj) AS BIGINT) AS t,
        |              sum(CAST(cj AS HUGEINT) * cj) AS sc2 FROM bt),
        |bb AS (SELECT user_id, CAST(sum(s) AS BIGINT) AS ri
        |       FROM g GROUP BY 1),
        |ba AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
        |              sum(CAST(ri AS HUGEINT) * ri) AS sr2 FROM bb)
        |SELECT ba.n_blocks, k.k, ta.t AS n_successes,
        |       CASE WHEN CAST(k.k AS HUGEINT) * ta.t - ba.sr2 > 0
        |            THEN CAST((k.k - 1) * (CAST(k.k AS HUGEINT) * ta.sc2
        |                      - CAST(ta.t AS HUGEINT) * ta.t) AS DOUBLE)
        |               / CAST(CAST(k.k AS HUGEINT) * ta.t - ba.sr2 AS DOUBLE)
        |       END AS q_stat
        |FROM ba, k, ta""".stripMargin)),

    QueryDef("q411_partial_correlation", (s, d) =>
      // is the views-purchases association real, or do both just ride
      // click activity? r_xy.z over per-(user, day) counts — the
      // third-variable audit behind every metric-correlation claim.
      Inference.partialCorrelation(
        events(s, d).groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(
            sum(when(col("event_type") === "view", 1L).otherwise(0L))
              .as("x"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("y"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("z")),
        col("x"), col("y"), col("z")),
      Some(
        """WITH b0 AS (
          |  SELECT user_id, CAST(ts AS DATE) AS day,
          |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
          |              AS BIGINT) AS x,
          |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
          |                  END) AS BIGINT) AS y,
          |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
          |              AS BIGINT) AS z
          |  FROM events GROUP BY 1, 2),
          |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |             sum(CAST(x AS HUGEINT)) AS sx,
          |             sum(CAST(y AS HUGEINT)) AS sy,
          |             sum(CAST(z AS HUGEINT)) AS sz,
          |             sum(CAST(x AS HUGEINT) * x) AS sxx,
          |             sum(CAST(y AS HUGEINT) * y) AS syy,
          |             sum(CAST(z AS HUGEINT) * z) AS szz,
          |             sum(CAST(x AS HUGEINT) * y) AS sxy,
          |             sum(CAST(x AS HUGEINT) * z) AS sxz,
          |             sum(CAST(y AS HUGEINT) * z) AS syz
          |      FROM b0),
          |r AS (SELECT n,
          |        CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
          |             THEN CAST(n * sxy - sx * sy AS DOUBLE)
          |                / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
          |                   * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
          |        END AS r_xy,
          |        CASE WHEN n * sxx - sx * sx > 0 AND n * szz - sz * sz > 0
          |             THEN CAST(n * sxz - sx * sz AS DOUBLE)
          |                / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
          |                   * sqrt(CAST(n * szz - sz * sz AS DOUBLE)))
          |        END AS r_xz,
          |        CASE WHEN n * syy - sy * sy > 0 AND n * szz - sz * sz > 0
          |             THEN CAST(n * syz - sy * sz AS DOUBLE)
          |                / (sqrt(CAST(n * syy - sy * sy AS DOUBLE))
          |                   * sqrt(CAST(n * szz - sz * sz AS DOUBLE)))
          |        END AS r_yz
          |      FROM m)
          |SELECT n, r_xy, r_xz, r_yz,
          |       CASE WHEN r_xy IS NOT NULL AND r_xz IS NOT NULL
          |                 AND r_yz IS NOT NULL
          |                 AND abs(r_xz) < 1.0 AND abs(r_yz) < 1.0
          |            THEN (r_xy - r_xz * r_yz)
          |               / (sqrt(1.0 - r_xz * r_xz)
          |                  * sqrt(1.0 - r_yz * r_yz)) END AS r_xy_z
          |FROM r""".stripMargin)),

    QueryDef("q412_cronbach_alpha", (s, d) => {
      // is "daily engagement" one construct? Cronbach's alpha over the
      // five per-type event counts as items, subjects = user-days
      // (densified — a quiet type scores 0, it is not missing).
      val e = events(s, d)
      val dayIdx = datediff(to_date(col("ts")),
        lit("1970-01-01").cast("date")).cast("long")
      val counts = e.groupBy(col("user_id"), dayIdx.as("day"),
        col("event_type")).agg(count(lit(1)).as("cnt"))
      val grid = e.select(col("user_id"), dayIdx.as("day")).distinct()
        .crossJoin(e.select(col("event_type")).distinct())
      val full = grid.join(counts, Seq("user_id", "day", "event_type"), "left")
        .select((col("user_id") * 100000L + col("day")).as("subj"),
          col("event_type"), coalesce(col("cnt"), lit(0L)).as("y"))
      Inference.cronbachAlpha(full, col("subj"), col("event_type"), col("y"))
    }, Some(
      """WITH cnts AS (
        |  SELECT user_id,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |         event_type, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2, 3),
        |ud AS (SELECT DISTINCT user_id, day FROM cnts),
        |ty AS (SELECT DISTINCT event_type FROM cnts),
        |fu AS (SELECT ud.user_id * 100000 + ud.day AS subj, ty.event_type,
        |                coalesce(c.cnt, 0) AS y
        |         FROM ud CROSS JOIN ty
        |         LEFT JOIN cnts c ON c.user_id = ud.user_id
        |                         AND c.day = ud.day
        |                         AND c.event_type = ty.event_type),
        |items AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |                 sum(CAST(y AS HUGEINT)) AS s,
        |                 sum(CAST(y AS HUGEINT) * y) AS q
        |          FROM fu GROUP BY 1),
        |vi AS (SELECT CAST(max(n) AS BIGINT) AS n,
        |              sum(CAST(n AS HUGEINT) * q - s * s) AS vi FROM items),
        |tot AS (SELECT subj, CAST(sum(y) AS BIGINT) AS tot FROM fu
        |        GROUP BY 1),
        |vt AS (SELECT CAST(count(*) AS BIGINT) AS n2,
        |              sum(CAST(tot AS HUGEINT)) AS st,
        |              sum(CAST(tot AS HUGEINT) * tot) AS qt FROM tot),
        |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ty)
        |SELECT vi.n AS n_subjects, k.k,
        |       CASE WHEN k.k > 1
        |                 AND CAST(vt.n2 AS HUGEINT) * vt.qt - vt.st * vt.st > 0
        |            THEN (CAST(k.k AS DOUBLE) / CAST(k.k - 1 AS DOUBLE))
        |                 * (1.0 - CAST(vi.vi AS DOUBLE)
        |                          / CAST(CAST(vt.n2 AS HUGEINT) * vt.qt
        |                                 - vt.st * vt.st AS DOUBLE))
        |       END AS alpha
        |FROM vi, vt, k""".stripMargin)),

    QueryDef("q413_raking_ipf", (s, d) => {
      // survey-weight the 1997 order-line sample to the 1998 population
      // margins (priority x returnflag) by four row-then-column IPF
      // sweeps — the reweight-last-year's-sample-to-known-margins
      // primitive, as a declared truncating fixed point.
      val ol = table(s, d, "orders")
        .join(table(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(substring(col("o_orderpriority"), 1, 1).cast("long").as("x"),
          col("l_returnflag").as("y"), year(col("o_orderdate")).as("yr"))
        .pinLazy() // feeds the sample and both margin rollups
      val samp = ol.filter(col("yr") === 1997)
      val pop = ol.filter(col("yr") === 1998)
      Inference.rakingIpf(samp, col("x"), col("y"),
        pop.groupBy(col("x")).agg(count(lit(1)).as("target")),
        pop.groupBy(col("y")).agg(count(lit(1)).as("target")),
        iterations = 4)
    }, Some {
      def sweep(i: Int, prev: String): String =
        s"""r$i AS (SELECT x, sum(w) AS rs FROM $prev GROUP BY 1),
           |a$i AS (SELECT p.x, p.y, p.n, p.rt, p.ct,
           |               CAST(CAST(p.w AS HUGEINT) * p.rt * 1000000
           |                    // r$i.rs AS BIGINT) AS w
           |        FROM $prev p JOIN r$i ON r$i.x = p.x),
           |c$i AS (SELECT y, sum(w) AS cs FROM a$i GROUP BY 1),
           |b$i AS (SELECT a.x, a.y, a.n, a.rt, a.ct,
           |               CAST(CAST(a.w AS HUGEINT) * a.ct * 1000000
           |                    // c$i.cs AS BIGINT) AS w
           |        FROM a$i a JOIN c$i ON c$i.y = a.y)""".stripMargin
      s"""WITH ol AS (
         |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
         |         l_returnflag AS y, year(o_orderdate) AS yr
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n
         |          FROM ol WHERE yr = 1997 GROUP BY 1, 2),
         |rt AS (SELECT x, CAST(count(*) AS BIGINT) AS rt
         |       FROM ol WHERE yr = 1998 GROUP BY 1),
         |ct AS (SELECT y, CAST(count(*) AS BIGINT) AS ct
         |       FROM ol WHERE yr = 1998 GROUP BY 1),
         |it0 AS (SELECT cells.x, cells.y, cells.n, rt.rt, ct.ct,
         |               CAST(cells.n * 1000000 AS BIGINT) AS w
         |        FROM cells JOIN rt ON rt.x = cells.x
         |                   JOIN ct ON ct.y = cells.y),
         |${sweep(1, "it0")},
         |${sweep(2, "b1")},
         |${sweep(3, "b2")},
         |${sweep(4, "b3")}
         |SELECT x, y, n AS n_sample, w AS weight_micro FROM b4""".stripMargin
    }),

    QueryDef("q414_mood_median", (s, d) =>
      // do the market segments share a common balance MEDIAN? Mood's test
      // — coarser but far more outlier-robust than q388/q390's rank and
      // deviation machinery on the same question.
      Inference.moodMedianTest(table(s, d, "customer"),
        Features.cents(col("c_acctbal")), col("c_mktsegment")),
      Some(
        s"""WITH v AS (SELECT c_mktsegment AS g,
           |                  ${centsSql("c_acctbal")} AS x FROM customer),
           |m AS (SELECT CAST(2 * median(x) AS BIGINT) AS med2 FROM v),
           |f AS (SELECT g, (2 * x > med2) AS b FROM v, m),
           |sp AS (SELECT g, b, CAST(count(*) AS BIGINT) AS observed
           |       FROM f GROUP BY 1, 2),
           |obs AS (SELECT ga.g, gb.b,
           |               CAST(coalesce(sp.observed, 0) AS BIGINT) AS observed
           |        FROM (SELECT DISTINCT g FROM sp) ga
           |        CROSS JOIN (SELECT DISTINCT b FROM sp) gb
           |        LEFT JOIN sp ON sp.g IS NOT DISTINCT FROM ga.g
           |                    AND sp.b IS NOT DISTINCT FROM gb.b),
           |r AS (SELECT g, CAST(sum(observed) AS HUGEINT) AS r_tot
           |      FROM obs GROUP BY 1),
           |c AS (SELECT b, CAST(sum(observed) AS HUGEINT) AS c_tot
           |      FROM obs GROUP BY 1),
           |n AS (SELECT CAST(sum(observed) AS HUGEINT) AS n_tot FROM obs),
           |t AS (SELECT observed, r_tot, c_tot, n_tot,
           |             CAST(observed AS HUGEINT) * n_tot - r_tot * c_tot
           |               AS delta
           |      FROM obs JOIN r USING (g) JOIN c USING (b) CROSS JOIN n),
           |s AS (SELECT
           |        CAST((SELECT sum(observed) FROM obs) AS BIGINT) AS n_rows,
           |        CAST(((SELECT count(*) FROM r) - 1)
           |             * ((SELECT count(*) FROM c) - 1) AS BIGINT) AS dof,
           |        CAST(sum((delta * delta * 1000)
           |                 // (n_tot * r_tot * c_tot)) AS BIGINT)
           |          AS chi2_milli,
           |        CAST(least((SELECT count(*) FROM r) - 1,
           |                   (SELECT count(*) FROM c) - 1) AS BIGINT) AS mn
           |      FROM t)
           |SELECT m.med2 AS grand_med2, s.n_rows, s.dof, s.chi2_milli,
           |       CASE WHEN s.mn > 0
           |            THEN sqrt(CAST(s.chi2_milli AS DOUBLE)
           |                      / (1000.0 * CAST(s.n_rows AS DOUBLE)
           |                         * CAST(s.mn AS DOUBLE))) END AS cramers_v
           |FROM s, m""".stripMargin)),

    QueryDef("q415_runs_test", (s, d) => {
      // is daily revenue's above/below-median sequence RANDOM, or does it
      // streak (regimes, autocorrelation)? Wald-Wolfowitz runs over the
      // day-ordered sign sequence; at-median days count below (the q414
      // convention).
      val daily = table(s, d, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("day"))
        .agg(sum(Features.cents(col("o_totalprice"))).as("y"))
        .pinLazy() // feeds the median rollup AND the signs
      val ranks = graft.operators.Ranking.valueRanks(daily, Nil, col("y"))
      val ng = ranks.agg(sum(col("n_rows")).as("__n"))
      val lo = call_function("div", col("__n") + 1L, lit(2L))
      val hi = call_function("div", col("__n") + 2L, lit(2L))
      val med = ranks.crossJoin(ng)
        .agg(sum(when(col("rnk") <= lo && lo < col("rnk") + col("n_rows"),
          col("v")).otherwise(0L)).as("__vlo"),
          sum(when(col("rnk") <= hi && hi < col("rnk") + col("n_rows"),
            col("v")).otherwise(0L)).as("__vhi"))
        .select((col("__vlo") + col("__vhi")).as("med2"))
      Inference.runsTest(daily.crossJoin(broadcast(med)),
        col("day"), col("y") * 2L > col("med2"))
    }, Some(
      s"""WITH daily AS (
         |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
         |              AS BIGINT) AS day,
         |         CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS y
         |  FROM orders GROUP BY 1),
         |m AS (SELECT CAST(2 * median(y) AS BIGINT) AS med2 FROM daily),
         |f AS (SELECT day, (2 * y > med2) AS b FROM daily, m),
         |g AS (SELECT b, CASE WHEN lag(b) OVER (ORDER BY day) IS NULL
         |                          OR lag(b) OVER (ORDER BY day) <> b
         |                     THEN 1 ELSE 0 END AS chg
         |      FROM f),
         |a AS (SELECT CAST(sum(CASE WHEN b THEN 0 ELSE 1 END) AS BIGINT)
         |               AS n1,
         |             CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
         |               AS n2,
         |             CAST(sum(chg) AS BIGINT) AS runs
         |      FROM g)
         |SELECT n1, n2, runs,
         |       CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 2
         |                 AND 2 * CAST(n1 AS HUGEINT) * n2 > n1 + n2
         |            THEN (CAST(runs AS DOUBLE)
         |                  - (CAST(2 * CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
         |                     / CAST(n1 + n2 AS DOUBLE) + 1.0))
         |               / sqrt(CAST(2 * CAST(n1 AS HUGEINT) * n2
         |                           * (2 * CAST(n1 AS HUGEINT) * n2
         |                              - (n1 + n2)) AS DOUBLE)
         |                      / CAST(CAST(n1 + n2 AS HUGEINT) * (n1 + n2)
         |                             * (n1 + n2 - 1) AS DOUBLE)) END AS z
         |FROM a""".stripMargin)),

    QueryDef("q416_wilcoxon_signed_rank", (s, d) => {
      // did revenue shift year over year, judged WITHIN calendar days?
      // Wilcoxon signed-rank on per-(month, day) revenue differences
      // 1998 minus 1997 — the paired sibling of q263's Mann-Whitney.
      val o = table(s, d, "orders")
        .filter(year(col("o_orderdate")).isin(1997, 1998))
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mm"),
          dayofmonth(col("o_orderdate")).as("dd"))
        .agg(sum(Features.cents(col("o_totalprice"))).as("rev"))
      val p97 = o.filter(col("yr") === 1997)
        .select(col("mm"), col("dd"), col("rev").as("r97"))
      val p98 = o.filter(col("yr") === 1998)
        .select(col("mm"), col("dd"), col("rev").as("r98"))
      Inference.wilcoxonSignedRank(p97.join(p98, Seq("mm", "dd")),
        col("r98") - col("r97"))
    }, Some(
      s"""WITH rev AS (
         |  SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mm,
         |         day(o_orderdate) AS dd,
         |         CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS rev
         |  FROM orders WHERE year(o_orderdate) IN (1997, 1998)
         |  GROUP BY 1, 2, 3),
         |p AS (SELECT a.rev - b.rev AS dv
         |      FROM (SELECT * FROM rev WHERE yr = 1998) a
         |      JOIN (SELECT * FROM rev WHERE yr = 1997) b
         |        ON a.mm = b.mm AND a.dd = b.dd
         |      WHERE a.rev - b.rev <> 0),
         |r AS (SELECT dv, abs(dv) AS a,
         |             2 * rank() OVER (ORDER BY abs(dv))
         |               + count(*) OVER (PARTITION BY abs(dv)) - 1 AS r2
         |      FROM p),
         |tt AS (SELECT CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS BIGINT)
         |                AS tie_term
         |       FROM (SELECT count(*) AS c FROM r GROUP BY a) z),
         |w AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(CASE WHEN dv > 0 THEN r2 ELSE 0 END)
         |                  AS BIGINT) AS w2_plus
         |      FROM r)
         |SELECT w.n, w.w2_plus, tt.tie_term,
         |       CASE WHEN w.n > 1
         |                 AND 2 * CAST(w.n AS HUGEINT) * (w.n + 1)
         |                     * (2 * w.n + 1) - tt.tie_term > 0
         |            THEN (CAST(w.w2_plus AS DOUBLE)
         |                  - CAST(CAST(w.n AS HUGEINT) * (w.n + 1) AS DOUBLE)
         |                    / 2.0)
         |               / (2.0 * sqrt(
         |                    CAST(2 * CAST(w.n AS HUGEINT) * (w.n + 1)
         |                         * (2 * w.n + 1) - tt.tie_term AS DOUBLE)
         |                    / 48.0)) END AS z
         |FROM w, tt""".stripMargin)),

    QueryDef("q417_bland_altman", (s, d) =>
      // do the order-header total and the summed line prices agree as
      // measurements of order value? Bland-Altman bias and 95% limits of
      // agreement over the per-order differences — the method-comparison
      // readout (and a reconciliation audit in disguise).
      Inference.blandAltman(
        table(s, d, "orders")
          .join(table(s, d, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg(min(Features.cents(col("o_totalprice"))).as("a"),
            sum(Features.cents(col("l_extendedprice"))).as("b")),
        col("a"), col("b")),
      Some(
        s"""WITH p AS (
           |  SELECT o_orderkey,
           |         CAST(min(${centsSql("o_totalprice")}) AS BIGINT) AS a,
           |         CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS b
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |  GROUP BY 1),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |             sum(CAST(a - b AS HUGEINT)) AS s,
           |             sum(CAST(a - b AS HUGEINT) * (a - b)) AS q
           |      FROM p)
           |SELECT n, CAST(s AS BIGINT) AS sum_diff,
           |       CASE WHEN n > 0
           |            THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END AS bias,
           |       CASE WHEN n > 1
           |            THEN sqrt(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE)
           |                      / CAST(CAST(n AS HUGEINT) * (n - 1)
           |                             AS DOUBLE)) END AS sd_diff,
           |       CASE WHEN n > 1
           |            THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
           |                 - 1.96 * sqrt(CAST(CAST(n AS HUGEINT) * q - s * s
           |                                    AS DOUBLE)
           |                               / CAST(CAST(n AS HUGEINT) * (n - 1)
           |                                      AS DOUBLE)) END AS loa_low,
           |       CASE WHEN n > 1
           |            THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
           |                 + 1.96 * sqrt(CAST(CAST(n AS HUGEINT) * q - s * s
           |                                    AS DOUBLE)
           |                               / CAST(CAST(n AS HUGEINT) * (n - 1)
           |                                      AS DOUBLE)) END AS loa_high
           |FROM m""".stripMargin)),

    QueryDef("q418_vocab_richness", (s, d) =>
      // how much TRIGRAM vocabulary exists beyond what the corpus shows?
      // Chao1 (plain + bias-corrected) and the Good-Turing unseen-mass
      // estimate from the frequency spectrum — the dataset-card richness
      // block (trigrams: the unigram vocab saturates, the q362 lesson).
      graft.pipeline.TextAnalysis.vocabRichness(
        table(s, d, "documents"), n = 3),
      Some(
        """WITH tk AS (SELECT string_split(text, ' ') AS tk FROM documents
          |            WHERE text IS NOT NULL),
          |g AS (SELECT CASE WHEN len(tk) >= 3
          |        THEN list_transform(generate_series(1, len(tk) - 2),
          |               i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
          |        ELSE CAST([] AS VARCHAR[]) END AS gs
          |      FROM tk),
          |c AS (SELECT t, CAST(count(*) AS BIGINT) AS c
          |      FROM (SELECT unnest(gs) AS t FROM g) u GROUP BY 1),
          |a AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
          |             CAST(count(*) AS BIGINT) AS s_obs,
          |             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |               AS f1,
          |             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
          |               AS f2
          |      FROM c)
          |SELECT n_tokens, s_obs, f1, f2,
          |       CASE WHEN f2 > 0
          |            THEN CAST(s_obs + (f1 * f1) // (2 * f2) AS BIGINT)
          |       END AS chao1,
          |       CAST(s_obs + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS BIGINT)
          |         AS chao1_bc,
          |       CASE WHEN n_tokens > 0
          |            THEN CAST(f1 * 1000000 // n_tokens AS BIGINT)
          |       END AS unseen_mass_ppm
          |FROM a""".stripMargin)),

    QueryDef("q419_hodges_lehmann", (s, d) =>
      // HOW MUCH does an order's total shift with its line count?
      // Hodges-Lehmann median-of-cross-differences of totalprice ($1000
      // bins) between many-line (>= 5) and few-line orders — the robust
      // effect size that pairs with the U test. (First cuts compared
      // purchase-vs-view amounts and bulk-vs-small line billing — both
      // pairs share one synthetic distribution and shifted exactly 0;
      // line count is the one covariate with real separation, ~-10
      // bins.)
      Inference.hodgesLehmannShift(
        table(s, d, "orders")
          .join(table(s, d, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg(min(col("o_totalprice")).as("tp"), count(lit(1)).as("nl")),
        floor(col("tp") / 1000).cast("long"),
        col("nl") >= 5L),
      Some(
        """WITH o AS (SELECT o_orderkey, min(o_totalprice) AS tp,
          |                  CAST(count(*) AS BIGINT) AS nl
          |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          |           GROUP BY 1),
          |v AS (SELECT CAST(floor(tp / 1000) AS BIGINT) AS v,
          |             (nl >= 5) AS b
          |      FROM o),
          |va AS (SELECT v, CAST(count(*) AS BIGINT) AS ca FROM v
          |       WHERE NOT b GROUP BY 1),
          |vb AS (SELECT v, CAST(count(*) AS BIGINT) AS cb FROM v
          |       WHERE b GROUP BY 1),
          |df AS (SELECT vb.v - va.v AS d,
          |              CAST(sum(CAST(ca AS HUGEINT) * cb) AS BIGINT) AS w
          |       FROM va CROSS JOIN vb GROUP BY 1),
          |r AS (SELECT d, w, sum(w) OVER (ORDER BY d) AS cum FROM df),
          |t AS (SELECT CAST(max(cum) AS BIGINT) AS tw FROM r),
          |m AS (SELECT CAST(
          |        sum(CASE WHEN cum - w + 1 <= (tw + 1) // 2
          |                      AND (tw + 1) // 2 <= cum THEN d ELSE 0 END)
          |        + sum(CASE WHEN cum - w + 1 <= (tw + 2) // 2
          |                        AND (tw + 2) // 2 <= cum THEN d ELSE 0 END)
          |        AS BIGINT) AS hl2
          |      FROM r, t),
          |nn AS (SELECT CAST(sum(CASE WHEN b THEN 0 ELSE 1 END) AS BIGINT)
          |                AS n_a,
          |              CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
          |                AS n_b
          |       FROM v)
          |SELECT nn.n_a, nn.n_b, m.hl2, CAST(m.hl2 * 500 AS BIGINT)
          |         AS hl_milli
          |FROM nn, m""".stripMargin)),

    QueryDef("q420_km_greenwood", (s, d) => {
      // the q269 fulfillment curve WITH its Greenwood 95% bands — a
      // survival estimate without error bars is a chart, not a decision
      // input. Same subjects, same integer fold, plus the variance
      // factor.
      val subj = table(s, d, "orders")
        .join(table(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"))
        .agg(max(col("l_shipdate")).as("last_ship"))
        .select(greatest(lit(0L),
          datediff(to_date(col("last_ship")), to_date(col("o_orderdate")))
            .cast("long")).as("dur"),
          (col("o_orderstatus") =!= "F").as("cens"))
      Inference.kaplanMeierGreenwood(subj, col("dur"), col("cens"))
    }, Some(
      """WITH RECURSIVE o AS (
        |  SELECT o_orderkey, o_orderdate, o_orderstatus,
        |         max(l_shipdate) AS last_ship
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2, 3),
        |s0 AS (SELECT greatest(0, date_diff('day', CAST(o_orderdate AS DATE),
        |                                    CAST(last_ship AS DATE))) AS dur,
        |              (o_orderstatus <> 'F') AS cens
        |       FROM o),
        |dr AS (SELECT dur, count(*) AS n_exit,
        |              sum(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS deaths
        |       FROM s0 GROUP BY 1),
        |c AS (SELECT dur, deaths,
        |             (SELECT sum(n_exit) FROM dr)
        |               - coalesce(sum(n_exit) OVER (ORDER BY dur
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |               AS at_risk
        |      FROM dr),
        |st AS (SELECT row_number() OVER (ORDER BY dur) AS rn, dur, at_risk,
        |              deaths
        |       FROM c WHERE deaths > 0),
        |km AS (
        |  SELECT rn, dur, at_risk, deaths,
        |         (1000000 * (at_risk - deaths)) // at_risk AS surv,
        |         CASE WHEN at_risk - deaths > 0
        |              THEN (deaths * 1000000000000) // (at_risk * (at_risk - deaths))
        |              ELSE -1 END AS g
        |  FROM st WHERE rn = 1
        |  UNION ALL
        |  SELECT st.rn, st.dur, st.at_risk, st.deaths,
        |         (km.surv * (st.at_risk - st.deaths)) // st.at_risk,
        |         CASE WHEN km.g < 0 OR st.at_risk - st.deaths <= 0 THEN -1
        |              ELSE km.g + (st.deaths * 1000000000000)
        |                          // (st.at_risk * (st.at_risk - st.deaths))
        |         END
        |  FROM st JOIN km ON st.rn = km.rn + 1)
        |SELECT CAST(dur AS BIGINT) AS duration,
        |       CAST(at_risk AS BIGINT) AS at_risk,
        |       CAST(deaths AS BIGINT) AS deaths,
        |       CAST(surv AS BIGINT) AS surv_ppm,
        |       CAST(g AS BIGINT) AS g_pico,
        |       CASE WHEN g >= 0
        |            THEN CAST(surv AS DOUBLE)
        |                 - 1.96 * (CAST(surv AS DOUBLE)
        |                           * sqrt(CAST(g AS DOUBLE) / 1.0e12))
        |       END AS ci_low_ppm,
        |       CASE WHEN g >= 0
        |            THEN CAST(surv AS DOUBLE)
        |                 + 1.96 * (CAST(surv AS DOUBLE)
        |                           * sqrt(CAST(g AS DOUBLE) / 1.0e12))
        |       END AS ci_high_ppm
        |FROM km""".stripMargin)),

    QueryDef("q421_good_turing", (s, d) =>
      // the Katz-backoff machinery: Good-Turing discounted counts
      // c* = (c+1) N_{c+1} / N_c over the bigram frequency spectrum,
      // exact milli — what a count of c is actually WORTH once unseen
      // mass is budgeted.
      graft.pipeline.TextAnalysis.goodTuringDiscounts(
        table(s, d, "documents"), n = 2, maxC = 10),
      Some(
        """WITH tk AS (SELECT string_split(text, ' ') AS tk FROM documents
          |            WHERE text IS NOT NULL),
          |g AS (SELECT CASE WHEN len(tk) >= 2
          |        THEN list_transform(generate_series(1, len(tk) - 1),
          |               i -> tk[i] || ' ' || tk[i + 1])
          |        ELSE CAST([] AS VARCHAR[]) END AS gs
          |      FROM tk),
          |c AS (SELECT t, CAST(count(*) AS BIGINT) AS c
          |      FROM (SELECT unnest(gs) AS t FROM g) u GROUP BY 1),
          |sp AS (SELECT c, CAST(count(*) AS BIGINT) AS n_c FROM c GROUP BY 1)
          |SELECT sp.c, sp.n_c,
          |       CAST(coalesce(s2.n_c, 0) AS BIGINT) AS n_next,
          |       CAST(((sp.c + 1) * coalesce(s2.n_c, 0) * 1000) // sp.n_c
          |            AS BIGINT) AS cstar_milli
          |FROM sp LEFT JOIN sp s2 ON s2.c = sp.c + 1
          |WHERE sp.c <= 10""".stripMargin)),

    QueryDef("q422_cmh", (s, d) =>
      // is deep discounting associated with returns ONCE priority is held
      // fixed? Cochran-Mantel-Haenszel pooled odds ratio + chi-square
      // across the five priority strata — the Simpson's-paradox-proof
      // version of the q232 marginal association.
      Inference.cmh(
        table(s, d, "orders")
          .join(table(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderpriority").as("stratum"),
            (floor(col("l_discount") * 1000 + 0.5).cast("long") >= 50L)
              .as("e"),
            (col("l_returnflag") === "R").as("o")),
        Seq("stratum"), col("e"), col("o")),
      Some(
        """WITH b0 AS (
          |  SELECT o_orderpriority AS s,
          |         (CAST(floor(l_discount * 1000 + 0.5) AS BIGINT) >= 50)
          |           AS e,
          |         (l_returnflag = 'R') AS o
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          |st AS (SELECT s,
          |         CAST(sum(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT)
          |           AS a,
          |         CAST(sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END)
          |              AS BIGINT) AS b,
          |         CAST(sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END)
          |              AS BIGINT) AS c,
          |         CAST(sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END)
          |              AS BIGINT) AS dd
          |       FROM b0 GROUP BY 1),
          |st2 AS (SELECT *, a + b + c + dd AS n FROM st
          |        WHERE a + b + c + dd >= 2),
          |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
          |               CAST(sum(a) AS BIGINT) AS sum_a,
          |               sum((CAST(a AS HUGEINT) * dd * 1000000) // n) AS r,
          |               sum((CAST(b AS HUGEINT) * c * 1000000) // n) AS sx,
          |               sum((CAST(a + b AS HUGEINT) * (a + c) * 1000000)
          |                   // n) AS e6,
          |               sum((CAST(a + b AS HUGEINT) * (c + dd) * (a + c)
          |                    * (b + dd) * 1000000)
          |                   // (CAST(n AS HUGEINT) * n * (n - 1))) AS v6
          |        FROM st2)
          |SELECT n_strata, sum_a,
          |       CASE WHEN sx > 0
          |            THEN CAST((r * 1000) // sx AS BIGINT) END AS or_milli,
          |       CASE WHEN v6 > 0
          |            THEN CAST((CAST(sum_a AS HUGEINT) * 1000000 - e6)
          |                      * (CAST(sum_a AS HUGEINT) * 1000000 - e6)
          |                      AS DOUBLE)
          |               / CAST(1000000 * v6 AS DOUBLE) END AS chi2
          |FROM agg""".stripMargin)),

    QueryDef("q423_dunn_posthoc", (s, d) =>
      // q388 said the event types differ somewhere; Dunn's post-hoc says
      // WHERE — every type pair's z over the one shared global rank pool
      // (pairwise re-ranking would change the question).
      Inference.dunnPosthoc(events(s, d),
        floor(col("value") * 1000 + 0.5).cast("long"), col("event_type")),
      Some(
        """WITH v AS (SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v,
          |                  event_type AS g
          |           FROM events
          |           WHERE value IS NOT NULL AND event_type IS NOT NULL),
          |vg AS (SELECT v, g, CAST(count(*) AS BIGINT) AS c_vg
          |       FROM v GROUP BY 1, 2),
          |vt AS (SELECT v, CAST(sum(c_vg) AS BIGINT) AS c_v FROM vg GROUP BY 1),
          |r AS (SELECT v, CAST(2 * (sum(c_v) OVER (ORDER BY v) - c_v)
          |                     + c_v + 1 AS BIGINT) AS r2
          |      FROM vt),
          |pg AS (SELECT g, CAST(sum(c_vg) AS BIGINT) AS n_g,
          |              CAST(sum(CAST(c_vg AS HUGEINT) * r2) AS BIGINT)
          |                AS r2_g
          |       FROM vg JOIN r USING (v) GROUP BY 1),
          |tt AS (SELECT CAST(sum(c_v) AS BIGINT) AS n,
          |              CAST(sum(CAST(c_v AS HUGEINT) * c_v * c_v)
          |                   - sum(CAST(c_v AS HUGEINT)) AS BIGINT) AS tie
          |       FROM vt)
          |SELECT a.g AS g_a, b.g AS g_b, a.n_g AS n_a, b.n_g AS n_b,
          |       CASE WHEN tt.n > 1 THEN
          |         (CAST(a.r2_g AS DOUBLE) / CAST(a.n_g AS DOUBLE)
          |          - CAST(b.r2_g AS DOUBLE) / CAST(b.n_g AS DOUBLE))
          |         / (2.0 * sqrt(
          |             ((CAST(CAST(tt.n AS HUGEINT) * (tt.n + 1) AS DOUBLE)
          |               - CAST(tt.tie AS DOUBLE) / CAST(tt.n - 1 AS DOUBLE))
          |              / 12.0)
          |             * (1.0 / CAST(a.n_g AS DOUBLE)
          |                + 1.0 / CAST(b.n_g AS DOUBLE))))
          |       END AS z
          |FROM pg a JOIN pg b ON a.g < b.g, tt""".stripMargin)),

    QueryDef("q424_seasonal_mase", (s, d) =>
      // does knowing the weekly shape beat knowing yesterday? Seasonal-
      // naive MASE per priority class over daily revenue cents — the
      // scaled error that makes forecast quality comparable across
      // series (below 1e6 ppm = weekly seasonality carries real signal).
      Stats.seasonalNaiveMase(
        table(s, d, "orders").select(col("o_orderpriority"),
          datediff(to_date(col("o_orderdate")),
            lit("1970-01-01").cast("date")).as("day"),
          Features.cents(col("o_totalprice")).as("y")),
        Seq("o_orderpriority"), col("day"), col("y"), period = 7),
      Some(
        s"""WITH dl AS (
           |  SELECT o_orderpriority AS g,
           |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
           |              AS BIGINT) AS day,
           |         CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS y
           |  FROM orders GROUP BY 1, 2),
           |j AS (SELECT d.g, d.day, d.y, p1.y AS y1, p7.y AS y7
           |      FROM dl d JOIN dl p1 ON p1.g = d.g AND p1.day = d.day - 1
           |                JOIN dl p7 ON p7.g = d.g AND p7.day = d.day - 7)
           |SELECT g AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_days,
           |       CAST(sum(abs(y - y7)) AS BIGINT) AS sae_seasonal,
           |       CAST(sum(abs(y - y1)) AS BIGINT) AS sae_naive,
           |       CASE WHEN sum(abs(y - y1)) > 0
           |            THEN CAST(CAST(sum(abs(y - y7)) AS HUGEINT) * 1000000
           |                      // sum(abs(y - y1)) AS BIGINT)
           |       END AS mase_ppm
           |FROM j GROUP BY 1""".stripMargin)),

    QueryDef("q425_pinball_loss", (s, d) => {
      // was the training-window p90 a good p90? Pinball loss at p = 0.9
      // of each event type's first-three-weeks daily-count p90 against
      // the held-out fourth week — the quantile-forecast scorecard.
      val e = events(s, d)
      val t0 = e.agg(min(to_date(col("ts"))).as("d0"))
      val daily = e.crossJoin(broadcast(t0))
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), col("d0")).as("dd"))
        .agg(count(lit(1)).as("cnt"))
        .pinLazy() // feeds the train rollup AND the test join
      val q90 = Stats.exactQuantiles(daily.filter(col("dd") < 21L),
        Seq("event_type"), col("cnt"), Seq(900))
      Stats.pinballLoss(daily.filter(col("dd") >= 21L), Seq("event_type"),
        col("cnt"), q90, pMille = 900)
    }, Some(
      """WITH d0 AS (SELECT CAST(min(ts) AS DATE) AS d0 FROM events),
        |daily AS (SELECT event_type,
        |                 date_diff('day', d0.d0, CAST(ts AS DATE)) AS dd,
        |                 CAST(count(*) AS BIGINT) AS cnt
        |          FROM events, d0 GROUP BY 1, 2),
        |tr AS (SELECT event_type, cnt AS v, CAST(count(*) AS BIGINT) AS k
        |       FROM daily WHERE dd < 21 GROUP BY 1, 2),
        |w AS (SELECT event_type, v, k,
        |             sum(k) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |             sum(k) OVER (PARTITION BY event_type) AS tot
        |      FROM tr),
        |q AS (SELECT event_type, CAST(min(v) AS BIGINT) AS q90
        |      FROM w WHERE cum * 1000 >= 900 * tot
        |              AND (cum - k) * 1000 < 900 * tot
        |      GROUP BY 1),
        |te AS (SELECT daily.event_type, daily.cnt AS y, q.q90
        |       FROM daily JOIN q USING (event_type) WHERE dd >= 21)
        |SELECT event_type, CAST(max(q90) AS BIGINT) AS q_value,
        |       CAST(count(*) AS BIGINT) AS n_test,
        |       CAST(sum(CASE WHEN y > q90 THEN 900 * (y - q90)
        |                     ELSE 100 * (q90 - y) END) AS BIGINT)
        |         AS total_loss_milli,
        |       CAST(sum(CASE WHEN y > q90 THEN 900 * (y - q90)
        |                     ELSE 100 * (q90 - y) END)
        |            // count(*) AS BIGINT) AS avg_loss_milli
        |FROM te GROUP BY 1""".stripMargin)),

    QueryDef("q426_page_trend", (s, d) =>
      // does weekly revenue RISE across the priority scale, judged within
      // each week? Page's L — Friedman's ordered-alternative sibling,
      // exactly as q405's Jonckheere is q388's.
      Inference.pageTrend(
        table(s, d, "orders").groupBy(
          call_function("div",
            datediff(to_date(col("o_orderdate")),
              lit("1970-01-01").cast("date")).cast("long"), lit(7L))
            .as("wk"),
          substring(col("o_orderpriority"), 1, 1).cast("long").as("pr"))
          .agg(sum(Features.cents(col("o_totalprice"))).as("y")),
        col("wk"), col("pr"), col("y")),
      Some(
        s"""WITH c AS (
           |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
           |              AS BIGINT) // 7 AS blk,
           |         CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS t,
           |         CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS y
           |  FROM orders GROUP BY 1, 2),
           |k AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM c),
           |cb AS (SELECT c.*, k.k,
           |              count(*) OVER (PARTITION BY blk) AS bk FROM c, k),
           |cc AS (SELECT * FROM cb WHERE bk = k),
           |r AS (SELECT blk, t, k,
           |             2 * rank() OVER (PARTITION BY blk ORDER BY y)
           |               + count(*) OVER (PARTITION BY blk, y) - 1 AS r2,
           |             dense_rank() OVER (ORDER BY t) AS j
           |      FROM cc),
           |a AS (SELECT k, CAST(count(DISTINCT blk) AS BIGINT) AS n_blocks,
           |             CAST(sum(j * r2) AS BIGINT) AS l2
           |      FROM r GROUP BY 1)
           |SELECT n_blocks, k, l2,
           |       CASE WHEN k > 1 AND n_blocks > 0 THEN
           |         CAST(CAST(l2 AS HUGEINT) * 2
           |              - CAST(n_blocks AS HUGEINT) * k * (k + 1) * (k + 1)
           |              AS DOUBLE) / 2.0
           |         / (2.0 * sqrt(
           |             CAST(CAST(n_blocks AS HUGEINT) * k * k * (k + 1)
           |                  * (CAST(k AS HUGEINT) * k - 1) AS DOUBLE)
           |             / 144.0))
           |       END AS z
           |FROM a""".stripMargin)),

    QueryDef("q427_bowker", (s, d) => {
      // do the q409 raters disagree SYMMETRICALLY, or does one
      // systematically score higher? Bowker's k x k symmetry test — the
      // ordinal generalization of q389's McNemar (here the +-1
      // perturbation is asymmetric at the clamps, so symmetry fails
      // detectably).
      val a = least(lit(5L), call_function("div",
        call_function("div", Features.cents(col("o_totalprice")), lit(100L)),
        lit(50000L)))
      val b = least(lit(5L),
        greatest(lit(0L), a + pmod(col("o_orderkey"), lit(3L)) - 1L))
      Inference.bowkerSymmetry(table(s, d, "orders"), a, b)
    }, Some(
      s"""WITH r0 AS (
         |  SELECT least(5, (${centsSql("o_totalprice")} // 100) // 50000)
         |           AS ra
         |       , o_orderkey FROM orders),
         |r1 AS (SELECT ra,
         |              least(5, greatest(0, ra + o_orderkey % 3 - 1)) AS rb
         |       FROM r0),
         |cells AS (SELECT ra, rb, CAST(count(*) AS BIGINT) AS c
         |          FROM r1 GROUP BY 1, 2),
         |up AS (SELECT ra, rb, c AS c_ij FROM cells WHERE ra < rb),
         |dn AS (SELECT rb AS ra, ra AS rb, c AS c_ji FROM cells
         |       WHERE ra > rb),
         |p AS (SELECT coalesce(up.c_ij, 0) AS c_ij,
         |             coalesce(dn.c_ji, 0) AS c_ji
         |      FROM up FULL JOIN dn ON up.ra = dn.ra AND up.rb = dn.rb
         |      WHERE coalesce(up.c_ij, 0) + coalesce(dn.c_ji, 0) > 0),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |             CAST(sum(((c_ij - c_ji) * (c_ij - c_ji) * 1000)
         |                      // (c_ij + c_ji)) AS BIGINT) AS chi2_milli
         |      FROM p),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r1)
         |SELECT nt.n, coalesce(t.n_pairs, 0) AS n_pairs,
         |       coalesce(t.chi2_milli, 0) AS chi2_milli
         |FROM nt, t""".stripMargin)),

    QueryDef("q428_theil_tracking", (s, d) =>
      // q424's companion panel: Theil's U2 (squared-error scale) and the
      // tracking signal (the demand-planning drift alarm: cumulative
      // signed error over MAD) for the seasonal-naive forecast of daily
      // revenue per priority class.
      Stats.theilTracking(
        table(s, d, "orders").select(col("o_orderpriority"),
          datediff(to_date(col("o_orderdate")),
            lit("1970-01-01").cast("date")).as("day"),
          Features.cents(col("o_totalprice")).as("y")),
        Seq("o_orderpriority"), col("day"), col("y"), period = 7),
      Some(
        s"""WITH dl AS (
           |  SELECT o_orderpriority AS g,
           |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
           |              AS BIGINT) AS day,
           |         CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS y
           |  FROM orders GROUP BY 1, 2),
           |j AS (SELECT d.g, d.y - p7.y AS e, d.y - p1.y AS en
           |      FROM dl d JOIN dl p1 ON p1.g = d.g AND p1.day = d.day - 1
           |                JOIN dl p7 ON p7.g = d.g AND p7.day = d.day - 7)
           |SELECT g AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_days,
           |       CAST(sum(e) AS BIGINT) AS sum_err,
           |       CAST(sum(abs(e)) AS BIGINT) AS sum_abs_err,
           |       CASE WHEN sum(CAST(en AS HUGEINT) * en) > 0
           |            THEN sqrt(CAST(sum(CAST(e AS HUGEINT) * e) AS DOUBLE)
           |                      / CAST(sum(CAST(en AS HUGEINT) * en)
           |                             AS DOUBLE)) END AS theil_u2,
           |       CASE WHEN sum(abs(e)) > 0
           |            THEN CAST(CAST(count(*) AS HUGEINT) * sum(e)
           |                      AS DOUBLE)
           |               / CAST(sum(abs(e)) AS DOUBLE) END
           |         AS tracking_signal
           |FROM j GROUP BY 1""".stripMargin)))
}
