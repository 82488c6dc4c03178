package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Features, FuzzyLink}
import graft.pipeline.{Inference, Multimodal}
import graft.sources.Sources.{events, table}

/** Round-9 continuation battery II: the hypothesis-test / agreement /
  * survival layer ([[graft.pipeline.Inference]]), probabilistic record
  * linkage, perceptual image dedup, and the MetricFlow derived-metric
  * path. Same discipline as StatQueries: exact integer (or DECIMAL)
  * operands everywhere, one fixed IEEE expression where a statistic is
  * irrational, every query paired with an independent DuckDB oracle.
  */
object InferenceQueries extends QuerySet {

  /** The q274 Holt recursion (alpha 3/10, beta 1/10) over the dense daily
    * event-value spine, as a CTE chain (`dc/g/sp/dn/h`) shared by the
    * smoother oracle (q274) and the backtest oracle (q322). Caller
    * prefixes `WITH RECURSIVE`. Trunc-division wrappers throughout: b_t
    * goes negative on downtrends and DuckDB `//` floors.
    */
  private val holtCtesSql: String =
    """dc AS (
      |  SELECT event_type,
      |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |         CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |g AS (SELECT event_type, min(day) AS mn, max(day) AS mx FROM dc GROUP BY 1),
      |sp AS (SELECT event_type, unnest(generate_series(mn, mx)) AS day FROM g),
      |dn AS (SELECT sp.event_type, sp.day, coalesce(dc.y, 0) AS y,
      |              row_number() OVER (PARTITION BY sp.event_type
      |                ORDER BY sp.day) AS rn
      |       FROM sp LEFT JOIN dc ON dc.event_type = sp.event_type
      |         AND dc.day = sp.day),
      |h AS (
      |  SELECT event_type, day, rn, y * 1000000 AS l, CAST(0 AS BIGINT) AS b
      |  FROM dn WHERE rn = 1
      |  UNION ALL
      |  SELECT dn.event_type, dn.day, dn.rn,
      |         CASE WHEN (3 * dn.y * 1000000 + 7 * (h.l + h.b)) >= 0
      |              THEN (3 * dn.y * 1000000 + 7 * (h.l + h.b)) // 10
      |              ELSE -((-(3 * dn.y * 1000000 + 7 * (h.l + h.b))) // 10) END,
      |         CASE WHEN (1 * ((CASE WHEN (3 * dn.y * 1000000 + 7 * (h.l + h.b)) >= 0
      |                    THEN (3 * dn.y * 1000000 + 7 * (h.l + h.b)) // 10
      |                    ELSE -((-(3 * dn.y * 1000000 + 7 * (h.l + h.b))) // 10) END)
      |                  - h.l) + 9 * h.b) >= 0
      |              THEN (1 * ((CASE WHEN (3 * dn.y * 1000000 + 7 * (h.l + h.b)) >= 0
      |                    THEN (3 * dn.y * 1000000 + 7 * (h.l + h.b)) // 10
      |                    ELSE -((-(3 * dn.y * 1000000 + 7 * (h.l + h.b))) // 10) END)
      |                  - h.l) + 9 * h.b) // 10
      |              ELSE -((-(1 * ((CASE WHEN (3 * dn.y * 1000000 + 7 * (h.l + h.b)) >= 0
      |                    THEN (3 * dn.y * 1000000 + 7 * (h.l + h.b)) // 10
      |                    ELSE -((-(3 * dn.y * 1000000 + 7 * (h.l + h.b))) // 10) END)
      |                  - h.l) + 9 * h.b)) // 10) END
      |  FROM dn JOIN h ON dn.event_type = h.event_type AND dn.rn = h.rn + 1)"""
      .stripMargin

  def all: Seq[QueryDef] = Seq(

    QueryDef("q262_ks_test", (s, d) => {
      // two-sample Kolmogorov-Smirnov: does the order-value distribution
      // of fulfilled ('F') orders differ from open ('O') ones? Exact D as
      // a rational over n_a*n_b, plus the value where the ECDFs diverge
      // most — computed over the distinct-cents rollup, never by ranking
      // raw rows.
      val o = table(s, d, "orders")
        .filter(col("o_orderstatus").isin("O", "F"))
      Inference.ksTest(o, Features.cents(col("o_totalprice")),
        col("o_orderstatus") === "F")
    }, Some(
      s"""WITH v AS (
         |  SELECT ${centsSql("o_totalprice")} AS v, (o_orderstatus = 'F') AS b
         |  FROM orders WHERE o_orderstatus IN ('O', 'F')),
         |r AS (SELECT v, sum(CASE WHEN b THEN 0 ELSE 1 END) AS cnt_a,
         |             sum(CASE WHEN b THEN 1 ELSE 0 END) AS cnt_b
         |      FROM v GROUP BY v),
         |c AS (SELECT v, sum(cnt_a) OVER (ORDER BY v) AS cum_a,
         |             sum(cnt_b) OVER (ORDER BY v) AS cum_b FROM r),
         |t AS (SELECT max(cum_a) AS n_a, max(cum_b) AS n_b FROM c),
         |g AS (SELECT c.v, abs(cum_a * n_b - cum_b * n_a) AS gap, n_a, n_b
         |      FROM c, t),
         |m AS (SELECT max(gap) AS d_num FROM g)
         |SELECT CAST(g.n_a AS BIGINT) AS n_a, CAST(g.n_b AS BIGINT) AS n_b,
         |       CAST(m.d_num AS BIGINT) AS d_num,
         |       CAST((CAST(m.d_num AS HUGEINT) * 1000000)
         |              // (CAST(g.n_a AS HUGEINT) * g.n_b) AS BIGINT) AS d_ppm,
         |       CAST(min(g.v) AS BIGINT) AS d_at
         |FROM g, m WHERE g.gap = m.d_num GROUP BY 1, 2, 3, 4""".stripMargin)),

    QueryDef("q263_mann_whitney", (s, d) => {
      // Mann-Whitney U on event values: 'purchase' amounts vs 'view'
      // amounts, in milli-units. Doubled ranks keep the tie-averaged rank
      // sum integral; the tie-corrected z is one IEEE expression over the
      // exact operands.
      val e = events(s, d).filter(col("event_type").isin("view", "purchase"))
      Inference.mannWhitney(e,
        floor(col("value") * 1000 + 0.5).cast("long"),
        col("event_type") === "purchase")
    }, Some(
      """WITH v AS (
        |  SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v,
        |         (event_type = 'purchase') AS b
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |r AS (SELECT v, sum(CASE WHEN b THEN 0 ELSE 1 END) AS cnt_a,
        |             sum(CASE WHEN b THEN 1 ELSE 0 END) AS cnt_b
        |      FROM v GROUP BY v),
        |c AS (SELECT v, cnt_a, cnt_b,
        |             sum(cnt_a) OVER (ORDER BY v) AS cum_a,
        |             sum(cnt_b) OVER (ORDER BY v) AS cum_b FROM r),
        |a AS (SELECT max(cum_a) AS n_a, max(cum_b) AS n_b,
        |             sum(CAST(cnt_a AS HUGEINT) *
        |                 ((cum_a + cum_b - cnt_a - cnt_b) * 2 + cnt_a + cnt_b + 1))
        |               AS r2_a,
        |             sum(CAST(cnt_a + cnt_b AS HUGEINT) * (cnt_a + cnt_b)
        |                   * (cnt_a + cnt_b) - (cnt_a + cnt_b)) AS tie_term
        |      FROM c),
        |u AS (SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |             CAST(r2_a - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS u2_a,
        |             CAST(tie_term AS BIGINT) AS tie_term
        |      FROM a)
        |SELECT n_a, n_b, u2_a, tie_term,
        |       CAST(u2_a - n_a * n_b AS DOUBLE) /
        |         sqrt(CAST(CAST(n_a AS HUGEINT) * n_b *
        |                (CAST(n_a + n_b + 1 AS HUGEINT) * (n_a + n_b)
        |                   * (n_a + n_b - 1) - tie_term) AS DOUBLE) /
        |              CAST(3 * (n_a + n_b) * (n_a + n_b - 1) AS DOUBLE)) AS z
        |FROM u""".stripMargin)),

    QueryDef("q264_spearman", (s, d) => {
      // Spearman rank correlation between a customer's account balance
      // and their realized spend: monotone association robust to the
      // heavy-tailed spend distribution, exact by doubled tie-averaged
      // ranks joined from the distinct-value rollups.
      val spend = table(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(Features.cents(col("o_totalprice"))).as("spend"))
      val base = table(s, d, "customer")
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(Features.cents(col("c_acctbal")).as("bal"),
          coalesce(col("spend"), lit(0L)).as("sp"))
      Inference.spearman(base, col("bal"), col("sp"))
    }, Some(
      s"""WITH sp AS (SELECT o_custkey, sum(${centsSql("o_totalprice")}) AS spend
         |            FROM orders GROUP BY 1),
         |b AS (SELECT ${centsSql("c_acctbal")} AS x,
         |             CAST(coalesce(spend, 0) AS BIGINT) AS y
         |      FROM customer LEFT JOIN sp ON c_custkey = o_custkey),
         |r AS (SELECT 2 * rank() OVER (ORDER BY x) + count(*) OVER (PARTITION BY x) - 1 AS xr2,
         |             2 * rank() OVER (ORDER BY y) + count(*) OVER (PARTITION BY y) - 1 AS yr2
         |      FROM b),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |             sum(CAST(xr2 AS HUGEINT)) AS sx, sum(CAST(yr2 AS HUGEINT)) AS sy,
         |             sum(CAST(xr2 AS HUGEINT) * yr2) AS sxy,
         |             sum(CAST(xr2 AS HUGEINT) * xr2) AS sxx,
         |             sum(CAST(yr2 AS HUGEINT) * yr2) AS syy
         |      FROM r)
         |SELECT n, CAST(n * sxy - sx * sy AS DOUBLE) /
         |          (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
         |           sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS rho
         |FROM m""".stripMargin)),

    QueryDef("q265_gini", (s, d) => {
      // revenue concentration per market segment: exact-ppm Gini over
      // customer spend (customers with no orders count as zero-spend —
      // concentration audits that drop them flatter themselves). The
      // tied-block formula runs on the valueRanks rollup, so raw rows are
      // never globally sorted.
      val spend = table(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(Features.cents(col("o_totalprice"))).as("spend_c"))
      val base = table(s, d, "customer")
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment"), coalesce(col("spend_c"), lit(0L)).as("spend"))
      Inference.gini(base, Seq("c_mktsegment"), col("spend"))
    }, Some(
      s"""WITH sp AS (SELECT o_custkey, sum(${centsSql("o_totalprice")}) AS spend_c
         |            FROM orders GROUP BY 1),
         |b AS (SELECT c_mktsegment, CAST(coalesce(spend_c, 0) AS BIGINT) AS spend
         |      FROM customer LEFT JOIN sp ON c_custkey = o_custkey),
         |r AS (SELECT c_mktsegment, spend,
         |             row_number() OVER (PARTITION BY c_mktsegment ORDER BY spend) AS i
         |      FROM b)
         |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(spend) AS BIGINT) AS total,
         |       CAST((2 * sum(CAST(i AS HUGEINT) * spend)
         |              - (count(*) + 1) * sum(CAST(spend AS HUGEINT))) * 1000000
         |            // (CAST(count(*) AS HUGEINT) * sum(spend)) AS BIGINT) AS gini_ppm
         |FROM r GROUP BY c_mktsegment""".stripMargin)),

    QueryDef("q266_cohen_kappa", (s, d) => {
      // inter-annotator agreement between the declared `lang` metadata and
      // the q31 marker classifier — the one-number summary of the q224
      // confusion matrix, chance-corrected. po/pe in exact ppm; kappa as
      // the single IEEE division over exact DECIMAL operands (it can be
      // negative, where engines disagree on integer division).
      import graft.pipeline.{TextAnalysis => T}
      val cls = table(s, d, "documents")
        .select(col("lang").as("declared"),
          T.langGuess(col("text"), PipelineQueries.Markers).as("guessed"))
      Inference.cohenKappa(cls, col("declared"), col("guessed"))
    }, Some {
      val scores = PipelineQueries.Markers.map { case (lang, words) =>
        lang -> (s"len(list_filter(${toksSql}, " +
          s"t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))")
      }
      val best = s"greatest(${scores.map(_._2).mkString(", ")})"
      val cases = scores.map { case (lang, sc) =>
        s"WHEN $sc = $best AND $sc > 0 THEN '$lang'"
      }.mkString("\n             ")
      s"""WITH g AS (
         |  SELECT lang AS ra,
         |       CASE $cases
         |            ELSE 'und' END AS rb
         |  FROM documents),
         |cells AS (SELECT ra, rb, count(*) AS c FROM g GROUP BY 1, 2),
         |rt AS (SELECT ra, sum(c) AS row_t FROM cells GROUP BY 1),
         |ct AS (SELECT rb, sum(c) AS col_t FROM cells GROUP BY 1),
         |s AS (SELECT coalesce(sum(CAST(row_t AS HUGEINT) * col_t), 0) AS s
         |      FROM rt JOIN ct ON rt.ra = ct.rb),
         |dg AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |              CAST(coalesce(sum(CASE WHEN ra = rb THEN c END), 0) AS BIGINT)
         |                AS diag
         |       FROM cells)
         |SELECT n,
         |       CAST((CAST(diag AS HUGEINT) * 1000000) // n AS BIGINT) AS po_ppm,
         |       CAST((s * 1000000) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm,
         |       CAST(CAST(n AS HUGEINT) * diag - s AS DOUBLE) /
         |         CAST(CAST(n AS HUGEINT) * n - s AS DOUBLE) AS kappa
         |FROM dg, s""".stripMargin
    }),

    QueryDef("q267_grouped_kfold", (s, d) => {
      // grouped k-fold assignment: folds are a hash of the USER, so one
      // user's events never straddle folds (the leakage mode plain row
      // hashing has on grouped data — q189's audit is the detector, this
      // is the constructive fix). Per-fold volume + class-mix profile;
      // exclusivity is pinned in the spec.
      val fold = expr("conv(substring(md5(concat(cast(user_id as string), " +
        "'|kf5')), 1, 8), 16, 10)").cast("long") % 5
      events(s, d)
        .withColumn("fold", fold)
        .groupBy(col("fold"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"))
    }, Some(
      """SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|kf5'), 1, 8))::BIGINT % 5
        |         AS fold,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_purchases
        |FROM events GROUP BY 1""".stripMargin)),

    QueryDef("q268_derived_metric", (s, d) => {
      // MetricFlow derived metric: net revenue = gross revenue minus
      // discount give-back, declared as an EXPRESSION over two simple
      // metrics and rendered at (month, returnflag) — the inputs join on
      // the shared spine and the expression evaluates post-aggregation,
      // so every consumer nets out discounts identically.
      import graft.engine.{Model, Registry, ViewMat}
      val wh = Scratch.warehouse("q268", d, s, Seq.empty)
      val reg = new Registry(s, wh)
      reg.source("lineitem_src", table(s, d, "lineitem"))
      reg.register(Model("li_model", Seq("lineitem_src"), ViewMat,
        ctx => ctx.ref("lineitem_src").select(
          col("l_returnflag").as("rflag"),
          col("l_shipdate").cast("timestamp").as("sdate"),
          Features.cents(col("l_extendedprice")).as("gross_c"),
          floor(col("l_extendedprice") * col("l_discount") * 100 + 0.5)
            .cast("long").as("disc_c"))))
      reg.run()
      reg.registerMetric(reg.Metric("gross_revenue", "li_model", "sum",
        Some("gross_c"), "sdate", Seq("rflag")))
      reg.registerMetric(reg.Metric("discount_cost", "li_model", "sum",
        Some("disc_c"), "sdate", Seq("rflag")))
      reg.registerDerivedMetric(reg.DerivedMetric("net_revenue",
        "gross_revenue - discount_cost", Seq("gross_revenue", "discount_cost")))
      reg.queryMetric("gross_revenue", "month", Seq("rflag"))
        .withColumnRenamed("value", "gross_cents")
        .join(reg.queryMetric("net_revenue", "month", Seq("rflag"))
          .withColumnRenamed("value", "net_cents"), Seq("period", "rflag"))
    }, Some(
      s"""SELECT date_trunc('month', CAST(l_shipdate AS TIMESTAMP)) AS period,
         |       l_returnflag AS rflag,
         |       CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS gross_cents,
         |       CAST(sum(${centsSql("l_extendedprice")})
         |            - sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5)
         |                       AS BIGINT)) AS BIGINT) AS net_cents
         |FROM lineitem GROUP BY 1, 2""".stripMargin)),

    QueryDef("q347_mom_smoothed_rates", (s, d) =>
      // empirical Bayes with the prior LEARNED by method of moments:
      // between-user rate variance sets the prior strength K; all integer
      // ppm with fixed-order truncating divisions the oracle replays
      graft.pipeline.Inference.momSmoothedRates(events(s, d),
        Seq("user_id"), col("event_type") === "purchase")
        .withColumn("user_id", col("user_id").cast("long")),
      Some(
        """WITH r AS (
          |  SELECT CAST(user_id AS BIGINT) AS user_id,
          |         CAST(count(*) AS BIGINT) AS n,
          |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
          |                       ELSE 0 END) AS BIGINT) AS successes
          |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
          |r2 AS (SELECT *, (successes * 1000000) // n AS raw_ppm FROM r),
          |g AS (SELECT CAST(count(*) AS BIGINT) AS gg,
          |             CAST(sum(raw_ppm) AS BIGINT) AS sp FROM r2),
          |g2 AS (SELECT gg, sp // gg AS m_ppm FROM g),
          |v AS (SELECT g2.m_ppm, g2.gg,
          |             sum(CAST(r2.raw_ppm - g2.m_ppm AS HUGEINT)
          |                 * (r2.raw_ppm - g2.m_ppm)) AS ss
          |      FROM r2 CROSS JOIN g2 GROUP BY 1, 2),
          |p AS (SELECT m_ppm,
          |             CASE WHEN CAST(ss // gg AS BIGINT) > 0
          |                  THEN greatest(0, (m_ppm * (1000000 - m_ppm))
          |                         // CAST(ss // gg AS BIGINT) - 1)
          |                  ELSE CAST(0 AS BIGINT) END AS k_prior
          |      FROM v)
          |SELECT r2.user_id, r2.n, r2.successes, r2.raw_ppm,
          |       p.m_ppm, p.k_prior,
          |       (r2.successes * 1000000 + p.k_prior * p.m_ppm)
          |         // (r2.n + p.k_prior) AS shrunk_ppm
          |FROM r2 CROSS JOIN p""".stripMargin)),

    QueryDef("q339_wilson_interval", (s, d) =>
      // small-n-safe 95% bands on per-segment negative-balance rates:
      // exact (n, c) rollup, bounds as ONE fixed-shape IEEE expression
      // mirrored token-for-token in the oracle (the MWU-z discipline)
      graft.pipeline.Inference.wilsonInterval(
        table(s, d, "customer"), Seq("c_mktsegment"),
        col("c_acctbal") < 0),
      Some(
        """WITH a AS (
          |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
          |         CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
          |              AS BIGINT) AS c
          |  FROM customer GROUP BY 1)
          |SELECT c_mktsegment, n, c,
          |  (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
          |     + 3.8416 / (2.0 * CAST(n AS DOUBLE)))
          |    / (1.0 + 3.8416 / CAST(n AS DOUBLE))
          |  - (1.96 * sqrt((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
          |       * (1.0 - CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
          |       + 3.8416 / (4.0 * CAST(n AS DOUBLE)))
          |       / CAST(n AS DOUBLE)))
          |    / (1.0 + 3.8416 / CAST(n AS DOUBLE)) AS wilson_low,
          |  (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
          |     + 3.8416 / (2.0 * CAST(n AS DOUBLE)))
          |    / (1.0 + 3.8416 / CAST(n AS DOUBLE))
          |  + (1.96 * sqrt((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
          |       * (1.0 - CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
          |       + 3.8416 / (4.0 * CAST(n AS DOUBLE)))
          |       / CAST(n AS DOUBLE)))
          |    / (1.0 + 3.8416 / CAST(n AS DOUBLE)) AS wilson_high
          |FROM a""".stripMargin)),

    QueryDef("q335_majority_at_k", (s, d) =>
      // self-consistency readout: probability a 5-draw (no replacement)
      // carries a strict purchase majority — exact hypergeometric tail,
      // numerator summed in DECIMAL binomials, ONE ppm truncation
      Inference.majorityAtK(
        events(s, d).filter(col("user_id") < 300),
        col("user_id"), col("event_type") === "purchase", k = 5),
      Some {
        def ch(x: String, i: Int): String =
          if (i == 0) "CAST(1 AS HUGEINT)"
          else "((" + (0 until i).map(j =>
            s"CAST(greatest($x - $j, 0) AS HUGEINT)").mkString(" * ") +
            s") // ${(1 to i).map(_.toLong).product})"
        s"""WITH a AS (
           |  SELECT CAST(user_id AS BIGINT) AS problem,
           |         CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
           |                       ELSE 0 END) AS BIGINT) AS c
           |  FROM events WHERE user_id < 300 GROUP BY 1)
           |SELECT problem, n, c,
           |       CAST(((${ch("c", 3)} * ${ch("n - c", 2)}
           |              + ${ch("c", 4)} * ${ch("n - c", 1)}
           |              + ${ch("c", 5)} * ${ch("n - c", 0)}) * 1000000)
           |            // ${ch("n", 5)} AS BIGINT) AS majority_at_k_ppm
           |FROM a WHERE n >= 5""".stripMargin
      }),

    QueryDef("q332_pass_at_k", (s, d) =>
      // unbiased pass@5 per user over their event "attempts" (success =
      // a purchase): 1 - C(n-c,5)/C(n,5) as ONE exact integer fraction —
      // the HumanEval estimator without its floating-point running
      // product. Users with under 5 attempts are excluded (n >= k)
      Inference.passAtK(
        events(s, d).filter(col("user_id") < 300),
        col("user_id"), col("event_type") === "purchase", k = 5),
      Some(
        """WITH a AS (
          |  SELECT CAST(user_id AS BIGINT) AS problem,
          |         CAST(count(*) AS BIGINT) AS n,
          |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
          |                       ELSE 0 END) AS BIGINT) AS c
          |  FROM events WHERE user_id < 300 GROUP BY 1)
          |SELECT problem, n, c,
          |       CAST(1000000 -
          |         (CAST(greatest(n - c - 0, 0) AS HUGEINT)
          |          * greatest(n - c - 1, 0) * greatest(n - c - 2, 0)
          |          * greatest(n - c - 3, 0) * greatest(n - c - 4, 0)
          |          * 1000000)
          |         // (CAST(n AS HUGEINT) * (n - 1) * (n - 2) * (n - 3)
          |            * (n - 4)) AS BIGINT) AS pass_at_k_ppm
          |FROM a WHERE n >= 5""".stripMargin)),

    QueryDef("q334_fleiss_kappa", (s, d) =>
      // Fleiss' kappa over a 5-rater panel (docs grouped in fives rate
      // the "item" with their language label): the annotation-QA gate —
      // exact po/pe ppm, one IEEE division for the signed kappa
      Inference.fleissKappa(
        table(s, d, "documents")
          .select((col("doc_id") / 5).cast("long").as("item_id"),
            col("lang")),
        col("item_id"), col("lang"), nRaters = 5),
      Some(
        """WITH cells AS (
          |  SELECT CAST(doc_id // 5 AS BIGINT) AS item, lang AS label,
          |         CAST(count(*) AS BIGINT) AS n_il
          |  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
          |complete AS (SELECT item FROM cells GROUP BY item
          |             HAVING sum(n_il) = 5),
          |k AS (SELECT cells.* FROM cells JOIN complete USING (item)),
          |po AS (SELECT CAST(count(DISTINCT item) AS BIGINT) AS n_items,
          |              sum(CAST(n_il AS HUGEINT) * n_il) AS sq
          |       FROM k),
          |pe AS (SELECT sum(CAST(nc AS HUGEINT) * nc) AS esq FROM (
          |         SELECT label, sum(n_il) AS nc FROM k GROUP BY 1) t)
          |SELECT po.n_items, CAST(5 AS BIGINT) AS n_raters,
          |       CAST(((po.sq - CAST(po.n_items AS HUGEINT) * 5) * 1000000)
          |            // (CAST(po.n_items AS HUGEINT) * 5 * 4) AS BIGINT)
          |         AS po_ppm,
          |       CAST((pe.esq * 1000000)
          |            // (CAST(po.n_items AS HUGEINT) * 5
          |               * CAST(po.n_items AS HUGEINT) * 5) AS BIGINT)
          |         AS pe_ppm,
          |       CASE WHEN CAST((pe.esq * 1000000)
          |                 // (CAST(po.n_items AS HUGEINT) * 5
          |                    * CAST(po.n_items AS HUGEINT) * 5) AS BIGINT)
          |                 < 1000000
          |            THEN CAST(CAST(((po.sq - CAST(po.n_items AS HUGEINT) * 5) * 1000000)
          |                   // (CAST(po.n_items AS HUGEINT) * 5 * 4) AS BIGINT)
          |                 - CAST((pe.esq * 1000000)
          |                   // (CAST(po.n_items AS HUGEINT) * 5
          |                      * CAST(po.n_items AS HUGEINT) * 5) AS BIGINT)
          |                 AS DOUBLE)
          |                 / CAST(1000000 - CAST((pe.esq * 1000000)
          |                   // (CAST(po.n_items AS HUGEINT) * 5
          |                      * CAST(po.n_items AS HUGEINT) * 5) AS BIGINT)
          |                   AS DOUBLE)
          |       END AS kappa
          |FROM po, pe""".stripMargin)),

    QueryDef("q327_stratified_ate", (s, d) =>
      // stratified ATE of priority handling on order value: within each
      // market segment the urgent-vs-normal mean order value contrast,
      // population-weighted into one adjusted effect — the continuous-
      // outcome sibling of q305's conversion uplift
      Inference.stratifiedAte(
        table(s, d, "orders").join(table(s, d, "customer"),
          col("o_custkey") === col("c_custkey")),
        Seq("c_mktsegment"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        floor(col("o_totalprice") * 100 + 0.5)),
      Some(
        """WITH b AS (
          |  SELECT c_mktsegment AS seg,
          |         (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS t,
          |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
          |  FROM orders JOIN customer ON o_custkey = c_custkey),
          |s AS (SELECT seg, CAST(count(*) AS BIGINT) AS n_s,
          |             CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
          |             CAST(sum(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS st,
          |             CAST(sum(CASE WHEN NOT t THEN y ELSE 0 END) AS BIGINT) AS sc
          |      FROM b GROUP BY 1),
          |s2 AS (SELECT seg, n_s, n_t, n_s - n_t AS n_c, st, sc FROM s
          |       WHERE n_t > 0 AND n_s - n_t > 0),
          |s3 AS (SELECT seg, n_s, n_t, n_c,
          |              (st * 1000000) // n_t AS mt,
          |              (sc * 1000000) // n_c AS mc
          |       FROM s2),
          |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n,
          |               sum(CAST(n_s AS HUGEINT) * (mt - mc)) AS wsum
          |        FROM s3),
          |atec AS (SELECT n,
          |                CAST(CASE WHEN wsum >= 0 THEN wsum // n
          |                          ELSE -((-wsum) // n) END AS BIGINT) AS ate
          |         FROM tot)
          |SELECT s3.seg AS c_mktsegment, s3.n_s, s3.n_t, s3.n_c,
          |       s3.mt AS mean_t_micro, s3.mc AS mean_c_micro,
          |       s3.mt - s3.mc AS diff_micro,
          |       (s3.n_s * 1000000) // atec.n AS weight_ppm,
          |       atec.ate AS ate_micro
          |FROM s3, atec""".stripMargin)),

    QueryDef("q373_isotonic_calibration", (s, d) => {
      // monotone calibration map over q297's reliability buckets via the
      // MINIMAX closed form (no sequential PAV): fit_i = max_{j<=i}
      // min_{k>=i} avg(j..k), declarative over the bounded bucket domain
      val preds = table(s, d, "orders")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("succ"))
        .withColumn("p_milli",
          expr("(succ + 30) * 1000 div (n + 100)"))
      val scored = table(s, d, "orders")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(preds.select(col("c_nationkey"), col("p_milli"))),
          Seq("c_nationkey"))
      Inference.isotonicCalibrate(scored, col("p_milli"),
        col("o_orderstatus") === "F", widthMilli = 10)
    }, Some(
      """WITH j AS (SELECT c_nationkey, o_orderstatus FROM orders
        |           JOIN customer ON c_custkey = o_custkey),
        |p AS (SELECT c_nationkey,
        |             (sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) + 30)
        |               * 1000 // (count(*) + 100) AS p_milli
        |      FROM j GROUP BY 1),
        |b AS (SELECT p.p_milli AS pm,
        |             CASE WHEN j.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |      FROM j JOIN p USING (c_nationkey)),
        |bk AS (SELECT CAST(pm // 10 AS BIGINT) AS bucket,
        |              CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(y) AS BIGINT) AS c
        |       FROM b GROUP BY 1),
        |r AS (SELECT j2.bucket AS jb, k2.bucket AS kb
        |      FROM bk j2 JOIN bk k2 ON j2.bucket <= k2.bucket),
        |rs AS (SELECT r.jb, r.kb,
        |              CAST((sum(bk.c) * 1000000) // sum(bk.n) AS BIGINT) AS a
        |       FROM r JOIN bk ON bk.bucket BETWEEN r.jb AND r.kb
        |       GROUP BY 1, 2),
        |mnj AS (SELECT b2.bucket, rs.jb, CAST(min(rs.a) AS BIGINT) AS mn
        |        FROM bk b2 JOIN rs ON rs.jb <= b2.bucket
        |          AND rs.kb >= b2.bucket
        |        GROUP BY 1, 2),
        |f AS (SELECT bucket, CAST(max(mn) AS BIGINT) AS calibrated_ppm
        |      FROM mnj GROUP BY 1)
        |SELECT bk.bucket, bk.n, bk.c, (bk.c * 1000000) // bk.n AS raw_ppm,
        |       f.calibrated_ppm
        |FROM bk JOIN f USING (bucket)""".stripMargin)),

    QueryDef("q374_brier_decomposition", (s, d) => {
      // Murphy: Brier = reliability - resolution + uncertainty (+ the
      // visible within-bin/truncation residual) over q297's forecasts
      val preds = table(s, d, "orders")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("succ"))
        .withColumn("p_milli",
          expr("(succ + 30) * 1000 div (n + 100)"))
      val scored = table(s, d, "orders")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(preds.select(col("c_nationkey"), col("p_milli"))),
          Seq("c_nationkey"))
      Inference.brierDecomposition(scored, col("p_milli"),
        col("o_orderstatus") === "F")
    }, Some(
      """WITH j AS (SELECT c_nationkey, o_orderstatus FROM orders
        |           JOIN customer ON c_custkey = o_custkey),
        |p AS (SELECT c_nationkey,
        |             (sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) + 30)
        |               * 1000 // (count(*) + 100) AS p_milli
        |      FROM j GROUP BY 1),
        |b AS (SELECT p.p_milli AS pm,
        |             CASE WHEN j.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |      FROM j JOIN p USING (c_nationkey)),
        |bk AS (SELECT pm // 100 AS bb, CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(y) AS BIGINT) AS c,
        |              CAST(sum(pm) AS BIGINT) AS sm,
        |              CAST(sum((pm - y*1000) * (pm - y*1000)) AS BIGINT) AS sq
        |       FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n,
        |             CAST(sum(c) AS BIGINT) AS ct,
        |             CAST(sum(sq) AS BIGINT) AS sqt FROM bk),
        |a AS (SELECT t.n, t.ct, t.sqt,
        |             CAST(coalesce(sum(((bk.sm - bk.c * 1000)
        |                * (bk.sm - bk.c * 1000)) // bk.n), 0) AS BIGINT)
        |               AS rel_n,
        |             coalesce(sum((CAST(bk.c * t.n - t.ct * bk.n AS HUGEINT)
        |                * (bk.c * t.n - t.ct * bk.n) * 1000000) // bk.n), 0)
        |               AS res_n
        |      FROM bk, t GROUP BY 1, 2, 3),
        |f AS (SELECT n, sqt // n AS brier_micro,
        |             rel_n // n AS reliability_micro,
        |             CAST(res_n // (CAST(n AS HUGEINT) * n * n) AS BIGINT)
        |               AS resolution_micro,
        |             CAST((CAST(ct AS HUGEINT) * (n - ct) * 1000000)
        |                  // (CAST(n AS HUGEINT) * n) AS BIGINT)
        |               AS uncertainty_micro
        |      FROM a)
        |SELECT n, brier_micro, reliability_micro, resolution_micro,
        |       uncertainty_micro,
        |       brier_micro - (reliability_micro - resolution_micro
        |                      + uncertainty_micro) AS residual_micro
        |FROM f""".stripMargin)),

    QueryDef("q371_kitagawa", (s, d) =>
      // rate-vs-mix decomposition of the fulfillment-rate change across
      // 1998: per segment ONE sign-magnitude micro division per term,
      // the __total row closes with delta and the visible truncation
      // residual (the PVM-bridge discipline)
      Inference.kitagawaDecomposition(
        table(s, d, "orders")
          .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey")),
        year(to_date(col("o_orderdate"))) >= 1998,
        Seq("c_mktsegment"), col("o_orderstatus") === "F"),
      Some(
        """WITH j AS (SELECT c_mktsegment AS seg,
          |                  year(CAST(o_orderdate AS DATE)) >= 1998 AS p1,
          |                  o_orderstatus = 'F' AS y
          |           FROM orders JOIN customer ON c_custkey = o_custkey),
          |s AS (SELECT seg,
          |        CAST(sum(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT)
          |          AS n0,
          |        CAST(sum(CASE WHEN NOT p1 AND y THEN 1 ELSE 0 END)
          |          AS BIGINT) AS c0,
          |        CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          |        CAST(sum(CASE WHEN p1 AND y THEN 1 ELSE 0 END) AS BIGINT)
          |          AS c1
          |      FROM j GROUP BY 1),
          |t AS (SELECT CAST(sum(n0) AS BIGINT) AS nn0,
          |             CAST(sum(c0) AS BIGINT) AS cc0,
          |             CAST(sum(n1) AS BIGINT) AS nn1,
          |             CAST(sum(c1) AS BIGINT) AS cc1 FROM s),
          |terms AS (SELECT s.seg, s.n0, s.c0, s.n1, s.c1,
          |  CASE WHEN s.n0 > 0 AND t.nn1 > 0 THEN
          |    CASE WHEN CAST(s.c1 AS HUGEINT) * s.n0
          |               - CAST(s.c0 AS HUGEINT) * s.n1 >= 0
          |         THEN CAST(((CAST(s.c1 AS HUGEINT) * s.n0
          |                     - CAST(s.c0 AS HUGEINT) * s.n1) * 1000000)
          |                   // (CAST(t.nn1 AS HUGEINT) * s.n0) AS BIGINT)
          |         ELSE -CAST((-((CAST(s.c1 AS HUGEINT) * s.n0
          |                        - CAST(s.c0 AS HUGEINT) * s.n1))
          |                     * 1000000)
          |                    // (CAST(t.nn1 AS HUGEINT) * s.n0) AS BIGINT)
          |    END ELSE CAST(0 AS BIGINT) END AS rate_eff_micro,
          |  CASE WHEN s.n0 > 0 AND t.nn0 > 0 AND t.nn1 > 0 THEN
          |    CASE WHEN CAST(s.n1 AS HUGEINT) * t.nn0
          |               - CAST(s.n0 AS HUGEINT) * t.nn1 >= 0
          |         THEN CAST((CAST(s.c0 AS HUGEINT)
          |                    * (CAST(s.n1 AS HUGEINT) * t.nn0
          |                       - CAST(s.n0 AS HUGEINT) * t.nn1) * 1000000)
          |                   // (CAST(s.n0 AS HUGEINT) * t.nn1 * t.nn0)
          |                   AS BIGINT)
          |         ELSE -CAST((CAST(s.c0 AS HUGEINT)
          |                     * (-(CAST(s.n1 AS HUGEINT) * t.nn0
          |                          - CAST(s.n0 AS HUGEINT) * t.nn1))
          |                     * 1000000)
          |                    // (CAST(s.n0 AS HUGEINT) * t.nn1 * t.nn0)
          |                    AS BIGINT)
          |    END ELSE CAST(0 AS BIGINT) END AS mix_eff_micro
          |  FROM s, t),
          |tr AS (SELECT t.nn0, t.cc0, t.nn1, t.cc1,
          |              CAST(coalesce(sum(rate_eff_micro), 0) AS BIGINT)
          |                AS sre,
          |              CAST(coalesce(sum(mix_eff_micro), 0) AS BIGINT)
          |                AS sme,
          |              CASE WHEN t.nn1 > 0
          |                   THEN (t.cc1 * 1000000) // t.nn1 ELSE 0 END
          |                - CASE WHEN t.nn0 > 0
          |                       THEN (t.cc0 * 1000000) // t.nn0 ELSE 0 END
          |                AS delta
          |       FROM terms, t GROUP BY 1, 2, 3, 4, 7)
          |SELECT seg AS c_mktsegment, n0, c0, n1, c1, rate_eff_micro,
          |       mix_eff_micro, CAST(NULL AS BIGINT) AS delta_micro,
          |       CAST(NULL AS BIGINT) AS residual_micro
          |FROM terms
          |UNION ALL
          |SELECT '__total', nn0, cc0, nn1, cc1, sre, sme,
          |       CAST(delta AS BIGINT),
          |       CAST(delta - sre - sme AS BIGINT)
          |FROM tr""".stripMargin)),

    QueryDef("q372_placebo_ate", (s, d) =>
      // the causal-audit practice query: stratified ATE under a
      // DETERMINISTIC pseudo-random relabeling (md5 hash splits users) —
      // a real design should see ~0 here; composition of q327's
      // stratifiedAte with Sampling.hashBucket, no new operator
      Inference.stratifiedAte(
        events(s, d).filter(col("value").isNotNull),
        Seq("event_type"),
        graft.pipeline.Sampling.hashBucket(col("user_id"), "placebo")
          < 500000L,
        floor(col("value") * 1000 + 0.5).cast("long")),
      Some(
        """WITH b AS (
          |  SELECT event_type,
          |         ('0x' || substr(md5(CAST(user_id AS VARCHAR) ||
          |            '|placebo'), 1, 8))::BIGINT % 1000000 < 500000 AS tr,
          |         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS y
          |  FROM events WHERE value IS NOT NULL),
          |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_s,
          |             CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT)
          |               AS n_t,
          |             CAST(sum(CASE WHEN tr THEN y ELSE 0 END) AS BIGINT)
          |               AS st,
          |             CAST(sum(CASE WHEN NOT tr THEN y ELSE 0 END)
          |               AS BIGINT) AS sc
          |      FROM b GROUP BY 1),
          |f AS (SELECT *, n_s - n_t AS n_c FROM s
          |      WHERE n_t > 0 AND n_s - n_t > 0),
          |m AS (SELECT *,
          |        CASE WHEN st >= 0 THEN (st * 1000000) // n_t
          |             ELSE -((-st * 1000000) // n_t) END AS mt,
          |        CASE WHEN sc >= 0 THEN (sc * 1000000) // n_c
          |             ELSE -((-sc * 1000000) // n_c) END AS mc
          |      FROM f),
          |w AS (SELECT CAST(sum(n_s) AS BIGINT) AS nn FROM f),
          |ws AS (SELECT CAST(coalesce(sum(CAST(n_s AS HUGEINT)
          |         * (mt - mc)), 0) AS HUGEINT) AS wsum FROM m)
          |SELECT m.event_type, m.n_s, m.n_t, m.n_c,
          |       CAST(m.mt AS BIGINT) AS mean_t_micro,
          |       CAST(m.mc AS BIGINT) AS mean_c_micro,
          |       CAST(m.mt - m.mc AS BIGINT) AS diff_micro,
          |       (m.n_s * 1000000) // w.nn AS weight_ppm,
          |       CAST(CASE WHEN ws.wsum >= 0 THEN ws.wsum // w.nn
          |                 ELSE -((-ws.wsum) // w.nn) END AS BIGINT)
          |         AS ate_micro
          |FROM m, w, ws""".stripMargin)),

    QueryDef("q367_log_rank", (s, d) => {
      // Mantel-Cox: do urgent orders fulfill on a different survival
      // curve than the rest? O-E and hypergeometric variance accumulated
      // exactly over the q269/q326 cohort, chi-square as one IEEE step
      val subj = table(s, d, "orders")
        .join(table(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"),
          col("o_orderpriority"))
        .agg(max(col("l_shipdate")).as("last_ship"))
        .select(greatest(lit(0L),
          datediff(to_date(col("last_ship")), to_date(col("o_orderdate")))
            .cast("long")).as("dur"),
          (col("o_orderstatus") =!= "F").as("cens"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("a"))
      Inference.logRankTest(subj, col("a"), col("dur"), col("cens"))
    }, Some(
      """WITH o AS (
        |  SELECT o_orderkey, o_orderdate, o_orderstatus, o_orderpriority,
        |         max(l_shipdate) AS last_ship
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2, 3, 4),
        |s AS (SELECT greatest(0, CAST(CAST(last_ship AS DATE)
        |                     - CAST(o_orderdate AS DATE) AS BIGINT)) AS dur,
        |             o_orderstatus <> 'F' AS cens,
        |             o_orderpriority IN ('1-URGENT', '2-HIGH') AS a
        |      FROM o),
        |bd AS (SELECT dur, CAST(count(*) AS BIGINT) AS x_all,
        |              CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT)
        |                AS x_a,
        |              CAST(sum(CASE WHEN NOT cens THEN 1 ELSE 0 END)
        |                AS BIGINT) AS d_all,
        |              CAST(sum(CASE WHEN NOT cens AND a THEN 1 ELSE 0 END)
        |                AS BIGINT) AS d_a
        |       FROM s GROUP BY 1),
        |st AS (SELECT *,
        |         CAST((SELECT sum(x_all) FROM bd)
        |           - coalesce(sum(x_all) OVER (ORDER BY dur ROWS BETWEEN
        |               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |           AS n_all,
        |         CAST((SELECT sum(x_a) FROM bd)
        |           - coalesce(sum(x_a) OVER (ORDER BY dur ROWS BETWEEN
        |               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |           AS n_a
        |       FROM bd),
        |ag AS (SELECT CAST(coalesce(sum(d_a), 0) AS BIGINT) AS observed_a,
        |              CAST(coalesce(sum((CAST(d_all AS HUGEINT) * n_a
        |                * 1000000) // n_all), 0) AS BIGINT)
        |                AS expected_a_micro,
        |              CAST(coalesce(sum(CASE WHEN n_all > 1
        |                THEN (CAST(d_all AS HUGEINT) * (n_all - d_all)
        |                      * n_a * (n_all - n_a) * 1000000)
        |                     // (CAST(n_all AS HUGEINT) * n_all
        |                         * (n_all - 1))
        |                ELSE 0 END), 0) AS BIGINT) AS var_micro
        |       FROM st WHERE d_all > 0),
        |sz AS (SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_subjects_a,
        |              CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_subjects_b
        |       FROM s)
        |SELECT sz.n_subjects_a, sz.n_subjects_b, ag.observed_a,
        |       ag.expected_a_micro, ag.var_micro,
        |       CASE WHEN ag.var_micro > 0 THEN
        |         (CAST(ag.observed_a * 1000000 - ag.expected_a_micro
        |               AS DOUBLE)
        |          * CAST(ag.observed_a * 1000000 - ag.expected_a_micro
        |                 AS DOUBLE))
        |         / (CAST(ag.var_micro AS DOUBLE) * 1000000.0)
        |       END AS chi2
        |FROM sz, ag""".stripMargin)),

    QueryDef("q326_nelson_aalen", (s, d) => {
      // Nelson-Aalen cumulative hazard on the q269 fulfillment cohort:
      // the additive estimator needs NO sequential fold — per-step
      // d*1e6 div r plus one cumulative window over event times
      val subj = table(s, d, "orders")
        .join(table(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"))
        .agg(max(col("l_shipdate")).as("last_ship"))
        .select(greatest(lit(0L),
          datediff(to_date(col("last_ship")), to_date(col("o_orderdate")))
            .cast("long")).as("dur"),
          (col("o_orderstatus") =!= "F").as("cens"))
      Inference.nelsonAalen(subj, col("dur"), col("cens"))
    }, Some(
      """WITH o AS (
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
        |st AS (SELECT dur, at_risk, deaths,
        |              (deaths * 1000000) // at_risk AS haz
        |       FROM c WHERE deaths > 0)
        |SELECT CAST(dur AS BIGINT) AS duration,
        |       CAST(at_risk AS BIGINT) AS at_risk,
        |       CAST(deaths AS BIGINT) AS deaths,
        |       CAST(haz AS BIGINT) AS haz_step_ppm,
        |       CAST(sum(haz) OVER (ORDER BY dur
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS cum_hazard_ppm
        |FROM st""".stripMargin)),

    QueryDef("q269_kaplan_meier", (s, d) => {
      // Kaplan-Meier order-fulfillment curve: time-to-complete = days
      // from order date to the last line shipment (clipped at 0 — the
      // synthetic dates are decoupled); open/partial orders ('O'/'P')
      // are right-censored at their last observed shipment. Survival in
      // truncated micro-units via the stepwise integer fold the oracle
      // replays with a recursive CTE. (User-lifetime KM over `events` is
      // degenerate here: the 30-day window has no churn, every user is
      // censored — orders carry REAL deaths and censoring.)
      val subj = table(s, d, "orders")
        .join(table(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"))
        .agg(max(col("l_shipdate")).as("last_ship"))
        .select(greatest(lit(0L),
          datediff(to_date(col("last_ship")), to_date(col("o_orderdate")))
            .cast("long")).as("dur"),
          (col("o_orderstatus") =!= "F").as("cens"))
      Inference.kaplanMeier(subj, col("dur"), col("cens"))
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
        |st AS (SELECT row_number() OVER (ORDER BY dur) AS rn, dur, at_risk, deaths
        |       FROM c WHERE deaths > 0),
        |km AS (
        |  SELECT rn, dur, at_risk, deaths,
        |         (1000000 * (at_risk - deaths)) // at_risk AS surv
        |  FROM st WHERE rn = 1
        |  UNION ALL
        |  SELECT st.rn, st.dur, st.at_risk, st.deaths,
        |         (km.surv * (st.at_risk - st.deaths)) // st.at_risk
        |  FROM st JOIN km ON st.rn = km.rn + 1)
        |SELECT CAST(dur AS BIGINT) AS duration, CAST(at_risk AS BIGINT) AS at_risk,
        |       CAST(deaths AS BIGINT) AS deaths, CAST(surv AS BIGINT) AS surv_ppm
        |FROM km""".stripMargin)),

    QueryDef("q270_fellegi_sunter", (s, d) => {
      // Fellegi-Sunter probabilistic linkage: every 50th customer arrives
      // as a probe with its name corrupted on even keys (digits 14/15
      // swapped); blocking on nation, three field comparisons with
      // milli-nat log-odds weights (literals of the declared m/u error
      // model). Exact-name probes resolve 'match'; corrupted ones land in
      // the clerical-review band on segment+balance agreement alone.
      val probes = table(s, d, "customer")
        .filter(pmod(col("c_custkey"), lit(50)) === 0)
        .select(col("c_nationkey"),
          col("c_custkey").as("probe_key"),
          when(pmod(col("c_custkey"), lit(2)) === 0,
            concat(substring(col("c_name"), 1, 13), substring(col("c_name"), 15, 1),
              substring(col("c_name"), 14, 1), expr("substring(c_name, 16)")))
            .otherwise(col("c_name")).as("probe_name"),
          col("c_mktsegment").as("probe_seg"),
          Features.cents(col("c_acctbal")).as("probe_bal"))
      val cands = table(s, d, "customer")
        .select(col("c_nationkey"), col("c_custkey"), col("c_name"),
          col("c_mktsegment"), Features.cents(col("c_acctbal")).as("cand_bal"))
      FuzzyLink.fellegiSunter(
        probes, col("probe_key"), cands, col("c_custkey"), "c_nationkey",
        Seq(
          FuzzyLink.FsField(col("probe_name") === col("c_name"), 2600L, -400L),
          FuzzyLink.FsField(col("probe_seg") === col("c_mktsegment"), 600L, -700L),
          FuzzyLink.FsField(abs(col("probe_bal") - col("cand_bal")) <= 10000L,
            1200L, -900L)),
        lowerMilli = 0L, upperMilli = 2500L)
    }, Some(
      s"""WITH pr AS (
         |  SELECT c_nationkey, c_custkey AS probe_key,
         |         CASE WHEN c_custkey % 2 = 0
         |              THEN substr(c_name, 1, 13) || substr(c_name, 15, 1)
         |                   || substr(c_name, 14, 1) || substr(c_name, 16)
         |              ELSE c_name END AS probe_name,
         |         c_mktsegment AS probe_seg,
         |         ${centsSql("c_acctbal")} AS probe_bal
         |  FROM customer WHERE c_custkey % 50 = 0),
         |sc AS (
         |  SELECT pr.probe_key AS probe_id, c.c_custkey AS cand_id,
         |         (CASE WHEN pr.probe_name = c.c_name THEN 2600 ELSE -400 END
         |        + CASE WHEN pr.probe_seg = c.c_mktsegment THEN 600 ELSE -700 END
         |        + CASE WHEN abs(pr.probe_bal - ${centsSql("c.c_acctbal")}) <= 10000
         |               THEN 1200 ELSE -900 END) AS score_milli
         |  FROM pr JOIN customer c ON pr.c_nationkey = c.c_nationkey)
         |SELECT probe_id, cand_id, CAST(score_milli AS BIGINT) AS score_milli,
         |       CASE WHEN score_milli >= 2500 THEN 'match' ELSE 'possible' END
         |         AS decision
         |FROM sc WHERE score_milli >= 0""".stripMargin)),

    QueryDef("q273_time_decay_attribution", (s, d) =>
      // the fourth attribution model beside q194's first/last/linear:
      // day-granular exponential decay (halflife 1 day, weights 1000 >>
      // age), each conversion splitting exactly one unit of credit in
      // exact micro-units
      graft.operators.EventAnalytics.timeDecayAttribution(events(s, d),
        conversionType = "purchase", touchTypes = Seq("view", "click", "signup"),
        lookbackDays = 3, halflifeDays = 1),
      Some(
        """WITH convs AS (
          |  SELECT user_id, event_id AS conv_id, ts AS conv_ts
          |  FROM events WHERE event_type = 'purchase'),
          |t AS (
          |  SELECT e.event_type AS touch, e.ts, c.conv_id, c.conv_ts
          |  FROM events e JOIN convs c ON e.user_id = c.user_id
          |   AND e.ts < c.conv_ts AND e.ts >= c.conv_ts - INTERVAL 3 DAY
          |  WHERE e.event_type IN ('view', 'click', 'signup')),
          |w AS (
          |  SELECT touch, conv_id,
          |         1000 >> CAST(least((epoch_us(conv_ts) - epoch_us(ts))
          |                              // 86400000000, 9) AS INTEGER) AS w
          |  FROM t),
          |tot AS (SELECT conv_id, sum(w) AS tot FROM w GROUP BY 1),
          |c AS (SELECT w.conv_id, touch, sum(w) AS wsum, count(*) AS cnt,
          |             max(tot) AS tot
          |      FROM w JOIN tot USING (conv_id) GROUP BY 1, 2)
          |SELECT touch AS event_type, CAST(sum(cnt) AS BIGINT) AS n_touches,
          |       CAST(sum(wsum * 1000000 // tot) AS BIGINT) AS decay_micro
          |FROM c GROUP BY 1""".stripMargin)),

    QueryDef("q274_holt_trend", (s, d) =>
      // Holt level+trend smoothing (alpha 3/10, beta 1/10) of daily event
      // value per type: the trend-aware forecast baseline beside q210's
      // EWMA — a truncated fixed-point integer recursion both engines
      // replay step for step (oracle: recursive CTE with trunc-division
      // wrappers, since b_t goes negative on downtrends)
      graft.pipeline.Stats.holtDaily(events(s, d), Seq("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
        floor(col("value") * 1000 + 0.5).cast("long"),
        alphaNum = 3, alphaDen = 10, betaNum = 1, betaDen = 10),
      Some(
        s"""WITH RECURSIVE $holtCtesSql
          |SELECT event_type, CAST(day AS BIGINT) AS day,
          |       CAST(l AS BIGINT) AS level_micro, CAST(b AS BIGINT) AS trend_micro,
          |       CAST(l + b AS BIGINT) AS forecast_micro
          |FROM h""".stripMargin)),

    QueryDef("q322_holt_backtest", (s, d) =>
      // rolling-origin backtest of the q274 Holt forecaster: the state at
      // day d forecasts day d+1, joined onto the dense actuals — n_evals,
      // exact error sums, MAE, and aggregate-ratio WAPE per event type.
      // One fold pass yields every origin; no refit, no leakage
      graft.pipeline.Stats.holtBacktest(events(s, d), Seq("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
        floor(col("value") * 1000 + 0.5).cast("long"),
        alphaNum = 3, alphaDen = 10, betaNum = 1, betaDen = 10,
        horizon = 1),
      Some(
        s"""WITH RECURSIVE $holtCtesSql,
          |j AS (SELECT h.event_type, h.l + 1 * h.b AS fc,
          |             dn.y * 1000000 AS act
          |      FROM h JOIN dn ON dn.event_type = h.event_type
          |        AND dn.day = h.day + 1)
          |SELECT event_type, CAST(count(*) AS BIGINT) AS n_evals,
          |       CAST(sum(abs(fc - act)) AS BIGINT) AS err_abs_sum_micro,
          |       CAST(sum(fc - act) AS BIGINT) AS err_sum_micro,
          |       CAST(sum(abs(fc - act)) // count(*) AS BIGINT) AS mae_micro,
          |       CAST(CASE WHEN sum(abs(act)) > 0
          |                 THEN (sum(abs(fc - act)) * 1000000) // sum(abs(act))
          |            END AS BIGINT) AS wape_ppm
          |FROM j GROUP BY 1""".stripMargin)),

    QueryDef("q275_changepoint", (s, d) =>
      // single-changepoint localization per event type: the split of the
      // daily-volume series maximizing the exact variance-reduction score
      // — the day q179's CUSUM flags, now LOCALIZED with segment means
      graft.pipeline.Stats.changepointDaily(events(s, d), Seq("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
        floor(col("value") * 1000 + 0.5).cast("long")),
      Some(
        """WITH dc AS (
          |  SELECT event_type,
          |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
          |         CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS y
          |  FROM events GROUP BY 1, 2),
          |p AS (SELECT event_type, day,
          |             sum(y) OVER (PARTITION BY event_type ORDER BY day
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl,
          |             CAST(row_number() OVER (PARTITION BY event_type
          |                ORDER BY day) AS BIGINT) AS nl,
          |             sum(y) OVER (PARTITION BY event_type) AS s,
          |             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
          |      FROM dc),
          |sc AS (SELECT event_type, day, nl, n, sl, s,
          |              CAST((CAST(sl AS HUGEINT) * sl) // nl
          |                 + (CAST(s - sl AS HUGEINT) * (s - sl)) // (n - nl)
          |                 - (CAST(s AS HUGEINT) * s) // n AS BIGINT) AS gain
          |       FROM p WHERE nl < n),
          |mx AS (SELECT event_type, max(gain) AS g FROM sc GROUP BY 1),
          |best AS (SELECT sc.event_type, min(day) AS split_day, g AS gain
          |         FROM sc JOIN mx ON sc.event_type = mx.event_type
          |           AND sc.gain = mx.g
          |         GROUP BY 1, 3)
          |SELECT b.event_type, b.split_day, b.gain, sc.nl AS n_left,
          |       sc.n - sc.nl AS n_right,
          |       CAST(sc.sl * 1000 // sc.nl AS BIGINT) AS mean_left_milli,
          |       CAST((sc.s - sc.sl) * 1000 // (sc.n - sc.nl) AS BIGINT)
          |         AS mean_right_milli
          |FROM best b JOIN sc ON sc.event_type = b.event_type
          |  AND sc.day = b.split_day""".stripMargin)),

    QueryDef("q276_prf_expansion", (s, d) =>
      // pseudo-relevance-feedback retrieval: the seed query's top-10 docs
      // vote expansion terms (exact tf x corpus-rarity score, stopword-
      // filtered at df <= 30% of docs), and the expanded query re-ranks
      // the corpus — the classic recall lever, fully exact-integer so the
      // oracle replays both passes
      graft.pipeline.TextAnalysis.prfRetrieve(table(s, d, "documents"),
        seedTerms = Seq("table", "spark"), fbDocs = 10, fbTerms = 5,
        topK = 20, maxDfMille = 300),
      Some(
        """WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc,
          |                     string_split(text, ' ') AS toks
          |              FROM documents WHERE text IS NOT NULL),
          |fb AS (SELECT doc FROM (
          |   SELECT doc, count(DISTINCT t) AS nm, count(*) AS tf
          |   FROM base, LATERAL (SELECT unnest(list_filter(toks,
          |          x -> x IN ('table', 'spark'))) AS t) u
          |   GROUP BY doc ORDER BY nm DESC, tf DESC, doc ASC LIMIT 10) s),
          |dfs AS (SELECT t AS term, CAST(count(*) AS BIGINT) AS df
          |        FROM base, LATERAL (SELECT unnest(list_distinct(toks)) AS t) u
          |        WHERE len(t) > 0 GROUP BY 1),
          |nd AS (SELECT count(*) AS n_docs FROM base),
          |ftf AS (SELECT t AS term, CAST(count(*) AS BIGINT) AS sum_tf
          |        FROM base JOIN fb USING (doc),
          |             LATERAL (SELECT unnest(toks) AS t) u
          |        WHERE len(t) > 0 AND t NOT IN ('table', 'spark') GROUP BY 1),
          |ex AS (SELECT term FROM ftf JOIN dfs USING (term), nd
          |       WHERE df * 1000 <= n_docs * 300
          |       ORDER BY (sum_tf * 1000000 // df) DESC, term ASC LIMIT 5),
          |q AS (SELECT term FROM ex
          |      UNION ALL SELECT unnest(['table', 'spark']) AS term),
          |fin AS (SELECT doc, CAST(count(DISTINCT t) AS BIGINT) AS n_matched,
          |               CAST(count(*) AS BIGINT) AS total_tf
          |        FROM base, LATERAL (SELECT unnest(toks) AS t) u
          |        WHERE t IN (SELECT term FROM q) GROUP BY doc)
          |SELECT doc, n_matched, total_tf, rnk FROM (
          |  SELECT doc, n_matched, total_tf,
          |         CAST(row_number() OVER (ORDER BY n_matched DESC,
          |                total_tf DESC, doc ASC) AS BIGINT) AS rnk
          |  FROM fin) t
          |WHERE rnk <= 20""".stripMargin)),

    QueryDef("q277_l_diversity", (s, d) =>
      // l-diversity audit beside q235's k-anonymity: nations whose
      // customers span fewer than 4 market segments leak the segment by
      // membership alone (the homogeneity attack group SIZE cannot see)
      graft.operators.GenericTests.lDiversity(table(s, d, "customer"),
        Seq("c_nationkey"), col("c_mktsegment"), l = 4),
      Some(
        """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS group_size,
          |       CAST(count(DISTINCT c_mktsegment)
          |            + max(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)
          |         AS BIGINT) AS n_sensitive,
          |       (count(DISTINCT c_mktsegment)
          |          + max(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)) < 4
          |         AS at_risk
          |FROM customer GROUP BY 1""".stripMargin)),

    QueryDef("q279_store_failures", (s, d) => {
      // dbt --store-failures: the warn-severity range test on the orders
      // model materializes its failing rows to the audit relation
      // test_failures__orders_checked__price_in_range through the swap
      // protocol; the query reads the STORED table back — the clerical-
      // review artifact, not the live test plan.
      import graft.engine.{Model, ModelTest, Registry, ViewMat}
      val wh = Scratch.warehouse("q279", d, s,
        Seq("test_failures__orders_checked__price_in_range"))
      val reg = new Registry(s, wh)
      reg.source("orders_src", table(s, d, "orders"))
      reg.register(Model("orders_checked", Seq("orders_src"), ViewMat,
        ctx => ctx.ref("orders_src").select(
          col("o_orderkey"),
          Features.cents(col("o_totalprice")).as("price_cents")),
        tests = Seq(ModelTest("price_in_range",
          df => df.filter(col("price_cents") > 40000000L),
          errorIf = _ => false, storeFailures = true))))
      reg.run()
      wh.read("test_failures__orders_checked__price_in_range")
    }, Some(
      s"""SELECT o_orderkey, ${centsSql("o_totalprice")} AS price_cents
         |FROM orders
         |WHERE ${centsSql("o_totalprice")} > 40000000""".stripMargin)),

    QueryDef("q280_textrank_keywords", (s, d) =>
      // TextRank corpus keywords: PageRank over the symmetrized window-2
      // co-occurrence graph (pairs seen >= 5 times), 2 damped fixed-point
      // iterations, top-15 — three existing exact primitives composed
      // (cooccurrence, valueRanks vocabulary ids, integer pageRank), so
      // the oracle replays the whole chain
      graft.pipeline.TextAnalysis.textRankKeywords(table(s, d, "documents"),
        window = 2, minCount = 5, iterations = 2, topK = 15),
      Some {
        val iterCtes = (1 to 2).map { i =>
          s"""p$i AS (SELECT n.id, 150000000000 + (85 * coalesce(s.m, 0)) // 100 AS pr
             |        FROM nodes n LEFT JOIN (
             |          SELECT e.dst, sum(p.pr // deg.d) AS m
             |          FROM e JOIN p${i - 1} p ON p.id = e.src
             |                 JOIN deg ON deg.src = e.src
             |          GROUP BY e.dst) s ON s.dst = n.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH d AS (SELECT string_split(text, ' ') AS toks
           |           FROM documents WHERE text IS NOT NULL),
           |pr0 AS (SELECT toks[i.i] AS a, toks[i.i + j.j] AS b
           |      FROM d,
           |           LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) i,
           |           LATERAL (SELECT unnest(generate_series(1, least(2, len(toks) - i.i))) AS j) j
           |      WHERE len(toks) >= 2),
           |co AS (SELECT a, b FROM pr0 GROUP BY 1, 2 HAVING count(*) >= 5),
           |und AS (SELECT DISTINCT a, b FROM
           |          (SELECT a, b FROM co UNION ALL SELECT b AS a, a AS b FROM co) u),
           |wrds AS (SELECT a AS w FROM und UNION SELECT b FROM und),
           |ids AS (SELECT w, CAST(dense_rank() OVER (ORDER BY w ASC) AS BIGINT) AS wid
           |        FROM wrds),
           |e AS (SELECT DISTINCT ia.wid AS src, ib.wid AS dst
           |      FROM und JOIN ids ia ON und.a = ia.w JOIN ids ib ON und.b = ib.w),
           |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
           |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
           |p0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS pr FROM nodes),
           |$iterCtes
           |SELECT w AS word, CAST(pr AS BIGINT) AS pr, rnk FROM (
           |  SELECT ids.w, p2.pr,
           |         CAST(row_number() OVER (ORDER BY p2.pr DESC, ids.w ASC)
           |           AS BIGINT) AS rnk
           |  FROM p2 JOIN ids ON ids.wid = p2.id) t
           |WHERE rnk <= 15""".stripMargin
      }),

    QueryDef("q281_snapshot_meta_names", (s, d) => {
      // dbt 1.9 snapshot_meta_column_names: the q53 two-run SCD2 lifecycle
      // with the STORED history carrying configured meta names
      // (scd_key/updated_ts/valid_start/valid_end) — the pipeline stays
      // canonical, renamed out on write and back on read, so run 2
      // advances run 1's renamed history correctly.
      import graft.engine.{Model, Registry, SnapshotMat, Snapshot}
      import java.sql.Timestamp
      val wh = Scratch.warehouse("q281", d, s, Seq("snap_members_renamed"))
      val t1 = Timestamp.valueOf("2000-01-01 00:00:00")
      val t2 = Timestamp.valueOf("2000-02-01 00:00:00")
      val names = Map("dbt_scd_id" -> "scd_key", "dbt_updated_at" -> "updated_ts",
        "dbt_valid_from" -> "valid_start", "dbt_valid_to" -> "valid_end")
      val s1 = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("member_id"),
        col("c_mktsegment").as("segment"))
      val s2 = s1.filter(col("member_id") % 17 =!= 3)
        .select(col("member_id"),
          when(col("member_id") % 10 === 0, lit("CHANGED"))
            .otherwise(col("segment")).as("segment"))
        .unionByName(s1.filter(col("member_id") % 13 === 5)
          .select((col("member_id") + 1000000).as("member_id"),
            lit("NEW").as("segment")))
      def snapModel(ts: Timestamp) = Model("snap_members_renamed",
        Seq("members_src"),
        SnapshotMat(Seq("member_id"), Snapshot.CheckStrategy(Seq("segment"), ts),
          Snapshot.Invalidate, ts, metaColumnNames = names),
        ctx => ctx.ref("members_src"))
      new Registry(s, wh).source("members_src", s1).register(snapModel(t1)).run()
      new Registry(s, wh).source("members_src", s2).register(snapModel(t2)).run()
      wh.read("snap_members_renamed")
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
        |         TIMESTAMP '2000-01-01 00:00:00' AS updated_ts,
        |         TIMESTAMP '2000-01-01 00:00:00' AS valid_start,
        |         CAST(NULL AS TIMESTAMP) AS valid_end
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
        |           coalesce(cast(valid_start as varchar),'')) AS scd_key,
        |       updated_ts, valid_start, valid_end
        |FROM rows_out""".stripMargin)),

    QueryDef("q282_hhi", (s, d) => {
      // Herfindahl-Hirschman concentration per segment: how few customers
      // hold the segment's revenue — q265's Gini measures inequality of
      // the distribution, HHI its effective member count (1e6/HHI_ppm).
      // Pure sum-of-squares rollups, one exact division.
      val base = table(s, d, "orders")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_custkey"),
          Features.cents(col("o_totalprice")).as("cents"))
      Inference.hhi(base, Seq("c_mktsegment"), col("o_custkey"), col("cents"))
    }, Some(
      s"""WITH m AS (
         |  SELECT c_mktsegment, o_custkey,
         |         sum(${centsSql("o_totalprice")}) AS s
         |  FROM orders JOIN customer ON c_custkey = o_custkey
         |  GROUP BY 1, 2 HAVING sum(${centsSql("o_totalprice")}) > 0)
         |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_members,
         |       CAST(sum(s) AS BIGINT) AS total,
         |       CAST((sum(CAST(s AS HUGEINT) * s) * 1000000)
         |            // (CAST(sum(s) AS HUGEINT) * sum(s)) AS BIGINT) AS hhi_ppm
         |FROM m GROUP BY 1""".stripMargin)),

    QueryDef("q283_bootstrap_ci", (s, d) =>
      // Poissonized distributed bootstrap: 95% percentile CI for the
      // purchase-vs-view mean value difference (milli-units), 100
      // deterministic md5-seeded Poisson(1) resampling replicates — the
      // cluster-scale bootstrap (per-row independent multiplicities; no
      // global resampling coordination), every draw engine-reproducible.
      // Digest is lane-split: ONE md5 per 4 replicates, each replicate
      // reading its own 8-hex slice (r10 perf fix; law unchanged)
      Inference.bootstrapMeanDiff(
        events(s, d).filter(col("event_type").isin("view", "purchase")),
        col("event_id"), floor(col("value") * 1000 + 0.5).cast("long"),
        col("event_type") === "purchase", b = 100, seed = "bs9"),
      Some(
        """WITH base AS (
          |  SELECT CAST(event_id AS VARCHAR) AS id,
          |         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v,
          |         (event_type = 'purchase') AS grp
          |  FROM events WHERE event_type IN ('view', 'purchase')),
          |hh AS (SELECT id, v, grp, blk,
          |              md5(id || '|' || CAST(blk AS VARCHAR) || '|' || 'bs9') AS h
          |       FROM base, (SELECT unnest(generate_series(1, 25)) AS blk) bs),
          |rep AS (SELECT id, v, grp, (blk - 1) * 4 + lane + 1 AS j,
          |               ('0x' || substr(h, 1 + 8 * lane, 8))::BIGINT % 1000000 AS u
          |        FROM hh, (SELECT unnest(generate_series(0, 3)) AS lane) ls),
          |ww AS (SELECT j, grp, v,
          |              CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
          |                   WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
          |                   WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
          |                   WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7
          |                   WHEN u < 999999 THEN 8 ELSE 9 END AS w
          |       FROM rep),
          |t AS (SELECT j,
          |             (sum(CASE WHEN NOT grp THEN w * v ELSE 0 END) * 1000)
          |               // nullif(sum(CASE WHEN NOT grp THEN w ELSE 0 END), 0)
          |           - (sum(CASE WHEN grp THEN w * v ELSE 0 END) * 1000)
          |               // nullif(sum(CASE WHEN grp THEN w ELSE 0 END), 0) AS t
          |      FROM ww GROUP BY j),
          |tv AS (SELECT t FROM t WHERE t IS NOT NULL),
          |arr AS (SELECT list(t ORDER BY t) AS arr FROM tv),
          |obs AS (SELECT
          |          (sum(CASE WHEN NOT grp THEN v ELSE 0 END) * 1000)
          |            // nullif(sum(CASE WHEN NOT grp THEN 1 ELSE 0 END), 0)
          |        - (sum(CASE WHEN grp THEN v ELSE 0 END) * 1000)
          |            // nullif(sum(CASE WHEN grp THEN 1 ELSE 0 END), 0)
          |            AS obs_diff_milli
          |        FROM base)
          |SELECT CAST(obs_diff_milli AS BIGINT) AS obs_diff_milli,
          |       CAST(arr[greatest(1, CAST(ceil(len(arr) * 0.025) AS INT))]
          |         AS BIGINT) AS lo_milli,
          |       CAST(arr[CAST(ceil(len(arr) * 0.975) AS INT)] AS BIGINT) AS hi_milli,
          |       CAST(len(arr) AS BIGINT) AS b_eff
          |FROM obs, arr""".stripMargin)),

    QueryDef("q284_cross_correlation", (s, d) =>
      // does view volume LEAD purchase volume? CCF at lags -3..3 between
      // the two daily milli-value series — exact overlapping-subset
      // moments, one IEEE expression per lag, one spine sort for all lags
      graft.pipeline.Stats.crossCorrDaily(
        events(s, d).filter(col("event_type").isin("view", "purchase")),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
        floor(col("value") * 1000 + 0.5).cast("long"),
        col("event_type") === "purchase", maxLag = 3),
      Some {
        val lags = (-3 to 3)
        def a(l: Int) = if (l < 0) s"m${-l}" else s"$l"
        val shifts = lags.filter(_ != 0).map(l =>
          if (l > 0) s"lead(y, $l) OVER w AS y_${a(l)}"
          else s"lag(y, ${-l}) OVER w AS y_${a(l)}").mkString(",\n       ")
        val moms = lags.map { l =>
          val yl = s"y_${a(l)}"
          s"""sum(CASE WHEN $yl IS NOT NULL THEN 1 ELSE 0 END) AS n_${a(l)},
             |      sum(CASE WHEN $yl IS NOT NULL THEN CAST(x AS HUGEINT) END) AS sx_${a(l)},
             |      sum(CASE WHEN $yl IS NOT NULL THEN CAST(x AS HUGEINT) * x END) AS sxx_${a(l)},
             |      sum(CAST($yl AS HUGEINT)) AS sy_${a(l)},
             |      sum(CAST($yl AS HUGEINT) * $yl) AS syy_${a(l)},
             |      sum(CAST(x AS HUGEINT) * $yl) AS sxy_${a(l)}""".stripMargin
        }.mkString(",\n      ")
        val rows = lags.map { l =>
          val s = a(l)
          s"""SELECT CAST($l AS BIGINT) AS lag, CAST(n_$s AS BIGINT) AS n_pairs,
             |       CASE WHEN CAST(n_$s AS HUGEINT) * sxx_$s - sx_$s * sx_$s > 0
             |             AND CAST(n_$s AS HUGEINT) * syy_$s - sy_$s * sy_$s > 0
             |            THEN CAST(CAST(n_$s AS HUGEINT) * sxy_$s - sx_$s * sy_$s AS DOUBLE)
             |               / (sqrt(CAST(CAST(n_$s AS HUGEINT) * sxx_$s - sx_$s * sx_$s AS DOUBLE))
             |                  * sqrt(CAST(CAST(n_$s AS HUGEINT) * syy_$s - sy_$s * sy_$s AS DOUBLE)))
             |       END AS ccf
             |FROM ag""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH base AS (
           |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
           |         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v,
           |         (event_type = 'purchase') AS b
           |  FROM events WHERE event_type IN ('view', 'purchase')),
           |d AS (SELECT day, sum(CASE WHEN NOT b THEN v ELSE 0 END) AS x,
           |             sum(CASE WHEN b THEN v ELSE 0 END) AS y
           |      FROM base GROUP BY 1),
           |g AS (SELECT min(day) AS mn, max(day) AS mx FROM d),
           |sp AS (SELECT unnest(generate_series(mn, mx)) AS day FROM g),
           |dn AS (SELECT sp.day, coalesce(d.x, 0) AS x, coalesce(d.y, 0) AS y
           |       FROM sp LEFT JOIN d USING (day)),
           |sh AS (SELECT day, x, y, y AS y_0,
           |       $shifts
           |       FROM dn WINDOW w AS (ORDER BY day)),
           |ag AS (SELECT
           |      $moms
           |      FROM sh)
           |$rows""".stripMargin
      }),

    QueryDef("q285_conformal_interval", (s, d) =>
      // split-conformal prediction intervals per event type (alpha=10%):
      // a deterministic md5 half split calibrates the center + residual
      // quantile at the conformal rank ceil((n+1)*0.9); the held-out half
      // audits coverage in exact ppm — distribution-free guarantees, no
      // normality assumed anywhere
      Inference.conformalInterval(events(s, d), Seq("event_type"),
        floor(col("value") * 1000 + 0.5).cast("long"),
        expr("conv(substring(md5(concat(cast(event_id as string), '|cf')), 1, 8), 16, 10)")
          .cast("long") % 2L === 0L,
        alphaPct = 10),
      Some(
        """WITH base AS (
          |  SELECT event_type, CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v,
          |         (('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|cf'), 1, 8))::BIGINT
          |            % 2 = 0) AS cal
          |  FROM events),
          |ctr AS (SELECT event_type, sum(v) // count(*) AS center_milli,
          |               CAST(count(*) AS BIGINT) AS n_cal
          |        FROM base WHERE cal GROUP BY 1),
          |res AS (SELECT b.event_type, abs(v - center_milli) AS r
          |        FROM base b JOIN ctr USING (event_type) WHERE cal),
          |tq AS (SELECT event_type, n_cal,
          |              least(n_cal, ((n_cal + 1) * 90 + 99) // 100) AS target
          |       FROM ctr),
          |qq AS (SELECT x.event_type, r AS q_milli
          |       FROM (SELECT event_type, r,
          |               row_number() OVER (PARTITION BY event_type ORDER BY r) AS rn
          |             FROM res) x JOIN tq ON x.event_type = tq.event_type
          |       WHERE x.rn = tq.target)
          |SELECT b.event_type, CAST(max(center_milli) AS BIGINT) AS center_milli,
          |       CAST(max(q_milli) AS BIGINT) AS q_milli,
          |       CAST(max(n_cal) AS BIGINT) AS n_cal,
          |       CAST(count(*) AS BIGINT) AS n_eval,
          |       CAST(sum(CASE WHEN abs(v - center_milli) <= q_milli
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
          |       CAST(sum(CASE WHEN abs(v - center_milli) <= q_milli
          |                     THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
          |         AS coverage_ppm
          |FROM base b JOIN ctr USING (event_type) JOIN qq USING (event_type)
          |WHERE NOT cal
          |GROUP BY 1""".stripMargin)),

    QueryDef("q286_cuped", (s, d) => {
      // CUPED experiment readout: per-user pre-period value (days < 16)
      // predicts the post-period metric; the pooled theta adjustment
      // shrinks the A/B diff's variance without biasing it. Exact DECIMAL
      // moments, fixed IEEE expressions (the q229 z-statistic
      // convention); assignment is the deterministic user-hash split.
      val e = events(s, d)
        .withColumn("v", floor(col("value") * 1000 + 0.5).cast("long"))
        .withColumn("dom", dayofmonth(col("ts")))
      val byUser = e.groupBy(col("user_id"))
        .agg(sum(when(col("dom") < 16, col("v")).otherwise(0L)).as("x"),
          sum(when(col("dom") >= 16, col("v")).otherwise(0L)).as("y"))
        .withColumn("grp",
          expr("conv(substring(md5(concat(cast(user_id as string), '|ab')), 1, 8), 16, 10)")
            .cast("long") % 2L === 0L)
      Inference.cupedDiff(byUser, col("x"), col("y"), col("grp"))
    }, Some(
      """WITH e AS (
        |  SELECT user_id, CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v,
        |         CAST(extract(day FROM ts) AS INTEGER) AS dom
        |  FROM events),
        |u AS (SELECT user_id,
        |             sum(CASE WHEN dom < 16 THEN v ELSE 0 END) AS x,
        |             sum(CASE WHEN dom >= 16 THEN v ELSE 0 END) AS y,
        |             (('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|ab'), 1, 8))::BIGINT
        |                % 2 = 0) AS grp
        |      FROM e GROUP BY user_id),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |             sum(CAST(x AS HUGEINT) * x) AS sxx,
        |             sum(CAST(x AS HUGEINT) * y) AS sxy,
        |             CAST(sum(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |             sum(CASE WHEN NOT grp THEN CAST(y AS HUGEINT) END) AS sya,
        |             sum(CASE WHEN NOT grp THEN CAST(x AS HUGEINT) END) AS sxa,
        |             CAST(sum(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |             sum(CASE WHEN grp THEN CAST(y AS HUGEINT) END) AS syb,
        |             sum(CASE WHEN grp THEN CAST(x AS HUGEINT) END) AS sxb
        |      FROM u),
        |t AS (SELECT *,
        |             CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
        |               / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS theta,
        |             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
        |      FROM m),
        |a AS (SELECT *,
        |             CAST(sya AS DOUBLE) / CAST(n_a AS DOUBLE)
        |               - theta * (CAST(sxa AS DOUBLE) / CAST(n_a AS DOUBLE) - xbar)
        |               AS adj_mean_a,
        |             CAST(syb AS DOUBLE) / CAST(n_b AS DOUBLE)
        |               - theta * (CAST(sxb AS DOUBLE) / CAST(n_b AS DOUBLE) - xbar)
        |               AS adj_mean_b
        |      FROM t)
        |SELECT n_a, n_b, theta,
        |       CAST(syb AS DOUBLE) / CAST(n_b AS DOUBLE)
        |         - CAST(sya AS DOUBLE) / CAST(n_a AS DOUBLE) AS raw_diff,
        |       adj_mean_a, adj_mean_b,
        |       adj_mean_b - adj_mean_a AS adj_diff
        |FROM a""".stripMargin)),

    QueryDef("q287_smoothed_rates", (s, d) => {
      // empirical-Bayes smoothed fulfillment rates per nation: Beta(30,70)
      // pseudo-counts (anchored near the global 'F' share) pull tiny
      // nations toward the prior so they cannot top the ranking on two
      // lucky orders — exact integer ppm throughout
      val base = table(s, d, "orders")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), (col("o_orderstatus") === "F").as("ok"))
      Inference.smoothedRates(base, Seq("c_nationkey"), col("ok"),
        priorA = 30L, priorB = 70L)
    }, Some(
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS successes,
        |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) * 1000000
        |            // count(*) AS BIGINT) AS raw_ppm,
        |       CAST((sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) + 30)
        |              * 1000000 // (count(*) + 100) AS BIGINT) AS smoothed_ppm
        |FROM orders JOIN customer ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin)),

    QueryDef("q288_pseudonymize", (s, d) =>
      // deterministic pseudonymization: salted-hash tokens replace user
      // ids, yet the per-user event rollup is still computable ON the
      // pseudonymized table (consistency is the point — q87's redaction
      // destroys joinability, this keeps it behind the salt boundary)
      events(s, d)
        .select(graft.pipeline.TextAnalysis
          .pseudonymize(col("user_id"), salt = "s9", prefix = "u").as("user_token"),
          col("event_type"),
          floor(col("value") * 1000 + 0.5).cast("long").as("v"))
        .groupBy(col("user_token"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", col("v")).otherwise(0L))
            .as("purchase_milli")),
      Some(
        """SELECT 'u_' || substr(md5(CAST(user_id AS VARCHAR) || '|s9'), 1, 16)
          |         AS user_token,
          |       CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(sum(CASE WHEN event_type = 'purchase'
          |                     THEN CAST(floor(value * 1000 + 0.5) AS BIGINT)
          |                     ELSE 0 END) AS BIGINT) AS purchase_milli
          |FROM events GROUP BY 1""".stripMargin)),

    QueryDef("q289_mmr_rerank", (s, d) => {
      // diversified retrieval: MMR-greedy top-4 from each query's
      // brute-force top-8 (lambda = 0.7) — near-duplicate neighbors stop
      // crowding the answer list; the oracle unrolls the identical greedy
      // rounds as CTE stages
      val emb = table(s, d, "embeddings")
      graft.pipeline.Similarity.mmrRerank(emb,
        emb.filter(col("vec_id") < 10), kCand = 8, kOut = 4,
        lambdaMilli = 700)
    }, Some {
      val qv = "list_transform(CAST(embedding AS DOUBLE[]), e -> CAST(floor(e * 1000 + 0.5) AS BIGINT))"
      def dot(a: String, b: String) =
        s"CAST(list_sum(list_transform(list_zip($a,$b), p -> p[1]*p[2])) AS DOUBLE)"
      def cos(a: String, b: String) =
        s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
      val steps = (2 to 4).map { i =>
        s"""p$i AS (SELECT c.query_id, c.neighbor_id, c.score, max(sm.sim) AS ms
           |        FROM cands c
           |        JOIN sel${i - 1} s ON s.query_id = c.query_id
           |        JOIN sims sm ON sm.query_id = c.query_id
           |          AND sm.id_a = c.neighbor_id AND sm.id_b = s.neighbor_id
           |        WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
           |          WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id)
           |        GROUP BY 1, 2, 3),
           |pick$i AS (SELECT query_id, neighbor_id,
           |                  CAST($i AS BIGINT) AS mmr_rank,
           |                  (700.0 * score - 300.0 * ms) / 1000.0 AS mmr_score
           |           FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           |                   ORDER BY (700.0 * score - 300.0 * ms) / 1000.0 DESC, neighbor_id ASC) AS rn
           |                 FROM p$i) t WHERE rn = 1),
           |sel$i AS (SELECT query_id, neighbor_id FROM sel${i - 1}
           |          UNION ALL SELECT query_id, neighbor_id FROM pick$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, $qv AS v
         |           FROM embeddings WHERE vec_id < 10),
         |c0 AS (SELECT CAST(vec_id AS BIGINT) AS neighbor_id, $qv AS v
         |       FROM embeddings),
         |cands AS (SELECT query_id, neighbor_id, score, rn FROM (
         |  SELECT q.query_id, c0.neighbor_id, ${cos("q.v", "c0.v")} AS score,
         |         row_number() OVER (PARTITION BY q.query_id
         |           ORDER BY ${cos("q.v", "c0.v")} DESC, c0.neighbor_id ASC) AS rn
         |  FROM c0, q WHERE c0.neighbor_id <> q.query_id) t WHERE rn <= 8),
         |cv AS (SELECT c.query_id, c.neighbor_id, e.v
         |       FROM cands c JOIN c0 e ON e.neighbor_id = c.neighbor_id),
         |sims AS (SELECT a.query_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
         |                ${cos("a.v", "b.v")} AS sim
         |         FROM cv a JOIN cv b ON a.query_id = b.query_id
         |           AND a.neighbor_id <> b.neighbor_id),
         |sel1 AS (SELECT query_id, neighbor_id FROM cands WHERE rn = 1),
         |$steps
         |SELECT query_id, neighbor_id, CAST(1 AS BIGINT) AS mmr_rank,
         |       score AS mmr_score
         |FROM cands WHERE rn = 1
         |UNION ALL SELECT * FROM pick2
         |UNION ALL SELECT * FROM pick3
         |UNION ALL SELECT * FROM pick4""".stripMargin
    }),

    QueryDef("q290_markov_attribution", (s, d) =>
      // data-driven (Markov removal-effect) attribution: user journeys
      // over view/click/signup absorb into conv/null; a channel's credit
      // is the conversion probability that disappears when its
      // transitions redirect to null. Journey extraction and transition
      // counting are distributed; the bounded transition matrix iterates
      // 50 absorption steps with order-pinned float sums the oracle
      // replays via recursive CTEs.
      graft.operators.EventAnalytics.markovRemovalEffect(events(s, d),
        conversionType = "purchase", channels = Seq("view", "click", "signup"),
        iterations = 50),
      Some {
        val chans = Seq("view", "click", "signup")
        val srcs = "start" +: chans // states that can hold mass
        val dsts = chans ++ Seq("conv", "null")
        val pivots = (for (src <- srcs; dst <- dsts) yield
          s"coalesce(sum(CASE WHEN src = '$src' AND dst = '$dst' THEN n END), 0) AS n_${src}_$dst")
          .mkString(",\n         ")
        val tots = srcs.map(src =>
          s"(${dsts.map(d => s"n_${src}_$d").mkString(" + ")}) AS tot_$src")
          .mkString(",\n         ")
        def prob(src: String, dst: String) =
          s"coalesce(CAST(n_${src}_$dst AS DOUBLE) / nullif(CAST(tot_$src AS DOUBLE), 0), 0.0)"
        def scenario(name: String, removed: Option[String]): String = {
          val live = chans.filterNot(removed.contains)
          val liveSrcs = "start" +: live
          def stepSum(dst: String) =
            liveSrcs.map(src => s"p_$src * ${prob(src, dst)}").mkString(" + ")
          // CAST the seeds: bare 1.0/0.0 literals type as DECIMAL(2,1)
          // in DuckDB and the recursive union would then ROUND every step
          val initCols = ("CAST(1.0 AS DOUBLE) AS p_start" +:
            live.map(c => s"CAST(0.0 AS DOUBLE) AS p_$c")) :+
            "CAST(0.0 AS DOUBLE) AS ab"
          val stepCols = ("CAST(0.0 AS DOUBLE)" +:
            live.map(c => s"${stepSum(c)}")) :+ s"ab + (${stepSum("conv")})"
          s"""it_$name AS (
             |  SELECT 0 AS t, ${initCols.mkString(", ")} FROM m
             |  UNION ALL
             |  SELECT t + 1, ${stepCols.mkString(",\n         ")}
             |  FROM it_$name, m WHERE t < 50)""".stripMargin
        }
        val scenarios = (scenario("full", None) +:
          chans.map(c => scenario(s"no_$c", Some(c)))).mkString(",\n")
        val reSum = chans.map(c =>
          s"((SELECT ab FROM it_full WHERE t = 50) - (SELECT ab FROM it_no_$c WHERE t = 50))")
          .mkString(" + ")
        val finalRows = chans.map { c =>
          s"""SELECT '$c' AS channel,
             |       (SELECT ab FROM it_full WHERE t = 50) AS p_conv_full,
             |       (SELECT ab FROM it_no_$c WHERE t = 50) AS p_conv_removed,
             |       (SELECT ab FROM it_full WHERE t = 50)
             |         - (SELECT ab FROM it_no_$c WHERE t = 50) AS removal_effect,
             |       ((SELECT ab FROM it_full WHERE t = 50)
             |         - (SELECT ab FROM it_no_$c WHERE t = 50)) / ($reSum)
             |         AS attribution_share""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH RECURSIVE rel AS (
           |  SELECT user_id, event_type AS t, ts, event_id FROM events
           |  WHERE event_type IN (${(chans :+ "purchase").map(c => s"'$c'").mkString(", ")})),
           |w AS (SELECT *, count(CASE WHEN t = 'purchase' THEN 1 END)
           |               OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cb
           |      FROM rel),
           |j AS (SELECT user_id,
           |             coalesce(lag(t) OVER (PARTITION BY user_id ORDER BY ts, event_id),
           |                      'start') AS src,
           |             CASE WHEN t = 'purchase' THEN 'conv' ELSE t END AS dst,
           |             (lead(t) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
           |               AS is_last
           |      FROM (SELECT * FROM w WHERE cb = 0) f),
           |trans AS (SELECT src, dst FROM j
           |          UNION ALL
           |          SELECT dst AS src, 'null' AS dst FROM j
           |          WHERE is_last AND dst <> 'conv'),
           |tc AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
           |       FROM trans GROUP BY 1, 2),
           |m AS (SELECT inner_m.*,
           |         $tots
           |      FROM (SELECT
           |         $pivots
           |      FROM tc) inner_m),
           |$scenarios
           |$finalRows""".stripMargin
      }),

    QueryDef("q291_diff_in_diff", (s, d) =>
      // difference-in-differences: treated users' post-period value shift
      // net of the control trend — the 2x2 exact milli-mean table plus
      // the integer DiD
      Inference.diffInDiff(events(s, d),
        floor(col("value") * 1000 + 0.5).cast("long"),
        expr("conv(substring(md5(concat(cast(user_id as string), '|ab')), 1, 8), 16, 10)")
          .cast("long") % 2L === 0L,
        dayofmonth(col("ts")) >= 16),
      Some(
        """WITH b AS (
          |  SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v,
          |         (('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|ab'), 1, 8))::BIGINT
          |            % 2 = 0) AS t,
          |         (CAST(extract(day FROM ts) AS INTEGER) >= 16) AS p
          |  FROM events)
          |SELECT *, (t_post_milli - t_pre_milli) - (c_post_milli - c_pre_milli)
          |            AS did_milli
          |FROM (SELECT
          |  CAST(sum(CASE WHEN NOT t AND NOT p THEN v ELSE 0 END) * 1000
          |       // nullif(sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END), 0)
          |    AS BIGINT) AS c_pre_milli,
          |  CAST(sum(CASE WHEN NOT t AND p THEN v ELSE 0 END) * 1000
          |       // nullif(sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END), 0)
          |    AS BIGINT) AS c_post_milli,
          |  CAST(sum(CASE WHEN t AND NOT p THEN v ELSE 0 END) * 1000
          |       // nullif(sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END), 0)
          |    AS BIGINT) AS t_pre_milli,
          |  CAST(sum(CASE WHEN t AND p THEN v ELSE 0 END) * 1000
          |       // nullif(sum(CASE WHEN t AND p THEN 1 ELSE 0 END), 0)
          |    AS BIGINT) AS t_post_milli
          |FROM b) x""".stripMargin)),

    QueryDef("q292_mde", (s, d) =>
      // experiment planning: per event type, the minimum detectable
      // effect at 80% power / 5% two-sided alpha on the milli-value
      // metric — exact DECIMAL variance operands, fixed micro z
      // constants, one IEEE expression
      Inference.minDetectableEffect(events(s, d), Seq("event_type"),
        floor(col("value") * 1000 + 0.5).cast("long")),
      Some(
        """WITH m AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |         sum(CAST(floor(value * 1000 + 0.5) AS HUGEINT)) AS sx,
          |         sum(CAST(floor(value * 1000 + 0.5) AS HUGEINT)
          |             * CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS sxx
          |  FROM events GROUP BY 1 HAVING count(*) > 1)
          |SELECT event_type, n,
          |       CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
          |         / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS variance,
          |       2.801585 * sqrt(2.0 * (CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
          |           / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE))
          |         / CAST(n AS DOUBLE)) AS mde
          |FROM m""".stripMargin)),

    QueryDef("q293_seasonality_strength", (s, d) =>
      // is a weekly baseline worth fitting? The eta-squared-style share
      // of daily-volume variance the day-of-week profile explains, in
      // declared-truncation ppm per event type
      graft.pipeline.Stats.weeklySeasonalityStrength(events(s, d),
        Seq("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
        floor(col("value") * 1000 + 0.5).cast("long")),
      Some(
        """WITH dc AS (
          |  SELECT event_type,
          |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
          |         CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS y
          |  FROM events GROUP BY 1, 2),
          |g AS (SELECT event_type, day % 7 AS dow,
          |             sum(CAST(y AS HUGEINT)) AS s_g, count(*) AS n_g
          |      FROM dc GROUP BY 1, 2),
          |a AS (SELECT event_type, sum((s_g * s_g) // n_g) AS a FROM g GROUP BY 1),
          |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
          |             sum(CAST(y AS HUGEINT)) AS s,
          |             sum(CAST(y AS HUGEINT) * y) AS c
          |      FROM dc GROUP BY 1)
          |SELECT t.event_type, n_days,
          |       CAST(CASE WHEN c > (s * s) // n_days
          |                 THEN greatest(0, ((a.a - (s * s) // n_days) * 1000000)
          |                      // (c - (s * s) // n_days)) END AS BIGINT)
          |         AS strength_ppm
          |FROM t JOIN a ON t.event_type = a.event_type""".stripMargin)),

    QueryDef("q294_audio_fingerprint", (s, d) => {
      // audio near-dup by frame-energy fingerprint: per doc a REAL 16-bit
      // WAV (javax.sound encode+decode) whose samples derive from doc_id
      // arithmetic (30 shared motifs; every 4th doc corrupts sample 0);
      // four exact frame-energy bands are both signature and LSH unit,
      // pairs survive on >= 3 agreeing bands — one corrupted frame
      // tolerated with pigeonhole-exact recall
      implicit val sp: org.apache.spark.sql.SparkSession = s
      import sp.implicits._
      val clips = table(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id")).as[Long]
        .mapPartitions(ids => ids.map { id =>
          val key = (id % 30).toInt
          val samples = Array.tabulate(400) { t =>
            val base = (t * (key * 7 + 13)) % 2001 - 1000
            val v = if (id % 4 == 0 && t == 0) base + 137 else base
            v.toShort
          }
          (id, Multimodal.encodeWav(8000, 1, samples))
        }).toDF("doc_id", "media")
      Multimodal.bandedNearDupPairs(
        Multimodal.audioFingerprints(clips, frameLen = 100).toDF(),
        minSharedBands = 3)
    }, Some(
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |                  CAST(doc_id % 30 AS BIGINT) AS key,
        |                  (doc_id % 4 = 0) AS noisy
        |           FROM documents),
        |sm AS (SELECT doc_id, t.t AS t,
        |              abs(CASE WHEN noisy AND t.t = 0
        |                       THEN (t.t * (key * 7 + 13)) % 2001 - 1000 + 137
        |                       ELSE (t.t * (key * 7 + 13)) % 2001 - 1000 END) AS a
        |       FROM d, (SELECT unnest(generate_series(0, 399)) AS t) t),
        |fr AS (SELECT doc_id, t // 100 AS f,
        |              CAST(sum(a) % 65536 AS INTEGER) AS b
        |       FROM sm GROUP BY 1, 2),
        |h AS (SELECT doc_id,
        |             max(CASE WHEN f = 0 THEN b END) AS b0,
        |             max(CASE WHEN f = 1 THEN b END) AS b1,
        |             max(CASE WHEN f = 2 THEN b END) AS b2,
        |             max(CASE WHEN f = 3 THEN b END) AS b3
        |      FROM fr GROUP BY doc_id),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |                a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
        |                b.b0 AS c0, b.b1 AS c1, b.b2 AS c2, b.b3 AS c3
        |         FROM h a JOIN h b ON a.doc_id < b.doc_id
        |           AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)),
        |sh AS (SELECT id_a, id_b,
        |              CAST((CASE WHEN a0 = c0 THEN 1 ELSE 0 END)
        |                 + (CASE WHEN a1 = c1 THEN 1 ELSE 0 END)
        |                 + (CASE WHEN a2 = c2 THEN 1 ELSE 0 END)
        |                 + (CASE WHEN a3 = c3 THEN 1 ELSE 0 END) AS INTEGER)
        |                AS n_shared_bands
        |       FROM cand)
        |SELECT id_a, id_b, n_shared_bands FROM sh WHERE n_shared_bands >= 3""".stripMargin)),

    QueryDef("q295_video_neardup", (s, d) => {
      // near-duplicate VIDEOS by shared frame fingerprints: per doc a REAL
      // 3-frame 9x8 animated GIF (25 shared motifs; every 6th doc corrupts
      // one pixel of frame 1), frames decoded back through imageio into
      // per-frame dHashes, videos matched on >= 2 identical frame hashes
      // — trimmed/retouched copies still match through their unchanged
      // frames. The oracle re-derives every frame's gradient bits from
      // doc_id arithmetic.
      implicit val sp: org.apache.spark.sql.SparkSession = s
      import sp.implicits._
      val vids = table(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        // codec work is CPU-bound per row: spread a single-split input
        // BEFORE the encode mapPartitions — only 8-byte ids shuffle
        // (Sources.fanOut scaladoc; q135 measured 5.8 -> 0.6 s)
        .transform(graft.sources.Sources.fanOut(_)).as[Long]
        .mapPartitions(ids => ids.map { id =>
          val key = (id % 25).toInt
          (id, Multimodal.encodeGif(9, 8, 3, (f, x, y) => {
            // the frame term must be SPATIAL (f*x*19): a constant
            // per-frame offset would leave every gradient — and so every
            // frame hash — identical across frames
            val base = (x * 17 + y * 29 + (x * y % 7) * 41 + key * 53 + f * x * 19) % 256
            val g = if (id % 6 == 0 && f == 1 && x == 0 && y == 0)
              (base + 128) % 256 else base
            (g, g, g)
          }))
        }).toDF("doc_id", "media")
      Multimodal.videoNearDupPairs(
        Multimodal.frameDhashes(vids).toDF(), minSharedHashes = 2)
    }, Some(
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |                  CAST(doc_id % 25 AS INTEGER) AS key,
        |                  (doc_id % 6 = 0) AS noisy
        |           FROM documents),
        |bits AS (
        |  SELECT doc_id, f.f AS f, i.i AS i,
        |         CASE WHEN
        |           ((i.i % 8 + 1) * 17 + (i.i // 8) * 29
        |              + (((i.i % 8 + 1) * (i.i // 8)) % 7) * 41 + key * 53
        |              + f.f * (i.i % 8 + 1) * 19) % 256
        |           >
        |           (CASE WHEN noisy AND f.f = 1 AND (i.i % 8) = 0 AND (i.i // 8) = 0
        |                 THEN (((i.i % 8) * 17 + (i.i // 8) * 29
        |                         + (((i.i % 8) * (i.i // 8)) % 7) * 41 + key * 53
        |                         + f.f * (i.i % 8) * 19) % 256
        |                       + 128) % 256
        |                 ELSE ((i.i % 8) * 17 + (i.i // 8) * 29
        |                         + (((i.i % 8) * (i.i // 8)) % 7) * 41 + key * 53
        |                         + f.f * (i.i % 8) * 19) % 256
        |            END)
        |         THEN 1 ELSE 0 END AS bit
        |  FROM d, (SELECT unnest(generate_series(0, 2)) AS f) f,
        |       (SELECT unnest(generate_series(0, 63)) AS i) i),
        |bands AS (SELECT doc_id, f, i // 16 AS band,
        |                 CAST(sum(bit << (i % 16)) AS INTEGER) AS bv
        |          FROM bits GROUP BY 1, 2, 3),
        |h AS (SELECT DISTINCT doc_id,
        |             max(CASE WHEN band = 0 THEN bv END) AS b0,
        |             max(CASE WHEN band = 1 THEN bv END) AS b1,
        |             max(CASE WHEN band = 2 THEN bv END) AS b2,
        |             max(CASE WHEN band = 3 THEN bv END) AS b3
        |      FROM bands GROUP BY doc_id, f)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(count(*) AS BIGINT) AS n_shared_hashes
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |  AND a.b0 = b.b0 AND a.b1 = b.b1 AND a.b2 = b.b2 AND a.b3 = b.b3
        |GROUP BY 1, 2
        |HAVING count(*) >= 2""".stripMargin)),

    QueryDef("q296_auc", (s, d) =>
      // exact ROC-AUC via the Mann-Whitney identity: does order value
      // predict fulfillment? Ties counted half through the doubled-rank
      // U, one ppm division — no trapezoids, no float rank sums
      Inference.aucPpm(table(s, d, "orders"),
        Features.cents(col("o_totalprice")), col("o_orderstatus") === "F"),
      Some(
        s"""WITH v AS (
           |  SELECT ${centsSql("o_totalprice")} AS v, (o_orderstatus = 'F') AS b
           |  FROM orders),
           |r AS (SELECT v, sum(CASE WHEN b THEN 0 ELSE 1 END) AS cnt_a,
           |             sum(CASE WHEN b THEN 1 ELSE 0 END) AS cnt_b
           |      FROM v GROUP BY v),
           |c AS (SELECT v, cnt_a, cnt_b,
           |             sum(cnt_a) OVER (ORDER BY v) AS cum_a,
           |             sum(cnt_b) OVER (ORDER BY v) AS cum_b FROM r),
           |a AS (SELECT max(cum_a) AS n_a, max(cum_b) AS n_b,
           |             sum(CAST(cnt_a AS HUGEINT) *
           |                 ((cum_a + cum_b - cnt_a - cnt_b) * 2 + cnt_a + cnt_b + 1))
           |               AS r2_a
           |      FROM c),
           |u AS (SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           |             CAST(r2_a - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS u2_a
           |      FROM a)
           |SELECT n_a AS n_neg, n_b AS n_pos,
           |       CAST((2 * CAST(n_a AS HUGEINT) * n_b - u2_a) * 1000000
           |            // (2 * CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS auc_ppm
           |FROM u""".stripMargin)),

    QueryDef("q297_reliability", (s, d) => {
      // calibration audit of the q287 empirical-Bayes rates used AS
      // per-order fulfillment probabilities: per probability bucket the
      // claimed vs empirical rate in exact ppm, plus the bucket Brier in
      // exact micro — smoothed rates should hug the diagonal
      val preds = table(s, d, "orders")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("succ"))
        .withColumn("p_milli",
          expr("(succ + 30) * 1000 div (n + 100)"))
      val scored = table(s, d, "orders")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(preds.select(col("c_nationkey"), col("p_milli"))),
          Seq("c_nationkey"))
      Inference.reliability(scored, col("p_milli"), col("o_orderstatus") === "F")
    }, Some(
      """WITH j AS (SELECT c_nationkey, o_orderstatus FROM orders
        |           JOIN customer ON c_custkey = o_custkey),
        |p AS (SELECT c_nationkey,
        |             (sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) + 30)
        |               * 1000 // (count(*) + 100) AS p_milli
        |      FROM j GROUP BY 1),
        |b AS (SELECT p.p_milli AS pm,
        |             CASE WHEN j.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |      FROM j JOIN p USING (c_nationkey))
        |SELECT CAST(pm // 100 AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(pm) * 1000 // count(*) AS BIGINT) AS mean_pred_ppm,
        |       CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS empirical_ppm,
        |       CAST(sum((pm - y * 1000) * (pm - y * 1000)) // count(*) AS BIGINT)
        |         AS brier_bucket_micro
        |FROM b GROUP BY 1""".stripMargin)),

    QueryDef("q360_ece", (s, d) => {
      // the single-number calibration gate over q297's scored orders:
      // ECE as ONE exact division (the per-bucket n_b cancels), MCE as
      // the worst bucket's exact gap
      val preds = table(s, d, "orders")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("succ"))
        .withColumn("p_milli",
          expr("(succ + 30) * 1000 div (n + 100)"))
      val scored = table(s, d, "orders")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(preds.select(col("c_nationkey"), col("p_milli"))),
          Seq("c_nationkey"))
      Inference.ece(scored, col("p_milli"), col("o_orderstatus") === "F")
    }, Some(
      """WITH j AS (SELECT c_nationkey, o_orderstatus FROM orders
        |           JOIN customer ON c_custkey = o_custkey),
        |p AS (SELECT c_nationkey,
        |             (sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) + 30)
        |               * 1000 // (count(*) + 100) AS p_milli
        |      FROM j GROUP BY 1),
        |b AS (SELECT p.p_milli AS pm,
        |             CASE WHEN j.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |      FROM j JOIN p USING (c_nationkey)),
        |g AS (SELECT pm // 100 AS bucket, CAST(count(*) AS BIGINT) AS n,
        |             abs(CAST(sum(y) AS BIGINT) * 1000000
        |                 - CAST(sum(pm) AS BIGINT) * 1000) AS gap
        |      FROM b GROUP BY 1)
        |SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n,
        |       CAST(count(*) AS BIGINT) AS n_buckets,
        |       CASE WHEN coalesce(sum(n), 0) > 0
        |            THEN CAST(CAST(sum(gap) AS BIGINT)
        |                      // CAST(sum(n) AS BIGINT) AS BIGINT)
        |       END AS ece_ppm,
        |       CAST(max(gap // n) AS BIGINT) AS mce_ppm
        |FROM g""".stripMargin)),

    QueryDef("q298_gains_table", (s, d) =>
      // campaign-depth planning: rank orders by value (the model score),
      // report each decile's cumulative share of fulfillments captured —
      // exact ppm, deciles from the distinct-score rollup, never a
      // raw-row ntile
      Inference.gainsTable(table(s, d, "orders"),
        Features.cents(col("o_totalprice")), col("o_orderstatus") === "F"),
      Some(
        s"""WITH v AS (
           |  SELECT ${centsSql("o_totalprice")} AS sc,
           |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
           |  FROM orders),
           |r AS (SELECT sc, count(*) AS n, sum(y) AS pos FROM v GROUP BY sc),
           |c AS (SELECT sc, n, pos,
           |             sum(n) OVER (ORDER BY sc DESC) AS cum FROM r),
           |t AS (SELECT max(cum) AS tot, sum(pos) AS totpos FROM c),
           |dd AS (SELECT CAST((10 * (cum - n + 1 - 1)) // tot + 1 AS BIGINT) AS decile, n, pos
           |       FROM c, t),
           |g AS (SELECT decile, CAST(sum(n) AS BIGINT) AS n,
           |             CAST(sum(pos) AS BIGINT) AS n_pos
           |      FROM dd GROUP BY 1)
           |SELECT decile, n, n_pos,
           |       CAST(sum(n_pos) OVER (ORDER BY decile
           |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
           |            // (SELECT totpos FROM t) AS BIGINT) AS cum_gain_ppm
           |FROM g""".stripMargin)),

    QueryDef("q299_position_attribution", (s, d) =>
      // the fifth attribution model (position-based / U-shaped 40-20-40):
      // first and last touches take 400 milli each, interior touches
      // split the middle — exact integer credit with the deterministic
      // degenerate-journey conventions the oracle replays
      graft.operators.EventAnalytics.positionBasedAttribution(events(s, d),
        conversionType = "purchase", touchTypes = Seq("view", "click", "signup"),
        lookbackDays = 3),
      Some(
        """WITH convs AS (
          |  SELECT user_id, event_id AS conv_id, ts AS conv_ts
          |  FROM events WHERE event_type = 'purchase'),
          |t AS (
          |  SELECT e.event_type AS touch, e.ts, e.event_id, c.conv_id
          |  FROM events e JOIN convs c ON e.user_id = c.user_id
          |   AND e.ts < c.conv_ts AND e.ts >= c.conv_ts - INTERVAL 3 DAY
          |  WHERE e.event_type IN ('view', 'click', 'signup')),
          |w AS (
          |  SELECT touch, conv_id,
          |         row_number() OVER (PARTITION BY conv_id ORDER BY ts, event_id) AS rf,
          |         row_number() OVER (PARTITION BY conv_id ORDER BY ts DESC, event_id DESC) AS rl,
          |         count(*) OVER (PARTITION BY conv_id) AS total
          |  FROM t),
          |cr AS (
          |  SELECT touch,
          |         CASE WHEN total = 1 THEN 1000
          |              WHEN total = 2 AND rf = 1 THEN 400 + 200
          |              WHEN total = 2 THEN 400
          |              WHEN rf = 1 OR rl = 1 THEN 400
          |              ELSE 200 // (total - 2) END AS credit
          |  FROM w)
          |SELECT touch AS event_type, CAST(count(*) AS BIGINT) AS n_touches,
          |       CAST(sum(credit) AS BIGINT) AS position_milli
          |FROM cr GROUP BY 1""".stripMargin)),

    QueryDef("q300_rmst", (s, d) => {
      // restricted mean survival time over the q269 fulfillment curve:
      // expected days an order stays open within its first year, in
      // exact ppm-days — the scalar the KM curve is consumed as
      val subj = table(s, d, "orders")
        .join(table(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"))
        .agg(max(col("l_shipdate")).as("last_ship"))
        .select(greatest(lit(0L),
          datediff(to_date(col("last_ship")), to_date(col("o_orderdate")))
            .cast("long")).as("dur"),
          (col("o_orderstatus") =!= "F").as("cens"))
      Inference.rmst(
        Inference.kaplanMeier(subj, col("dur"), col("cens")), horizonDays = 365L)
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
        |st AS (SELECT row_number() OVER (ORDER BY dur) AS rn, dur, at_risk, deaths
        |       FROM c WHERE deaths > 0),
        |km AS (
        |  SELECT rn, dur, at_risk, deaths,
        |         (1000000 * (at_risk - deaths)) // at_risk AS surv
        |  FROM st WHERE rn = 1
        |  UNION ALL
        |  SELECT st.rn, st.dur, st.at_risk, st.deaths,
        |         (km.surv * (st.at_risk - st.deaths)) // st.at_risk
        |  FROM st JOIN km ON st.rn = km.rn + 1),
        |r AS (SELECT dur, surv,
        |             lag(surv, 1, 1000000) OVER (ORDER BY dur) AS s_prev,
        |             lag(dur, 1, 0) OVER (ORDER BY dur) AS t_prev
        |      FROM km),
        |h AS (SELECT coalesce(sum(s_prev * (least(dur, 365) - t_prev)), 0) AS head
        |      FROM r WHERE t_prev < 365),
        |tl AS (SELECT CASE WHEN dur < 365 THEN surv * (365 - dur) ELSE 0 END AS tail
        |       FROM km ORDER BY dur DESC LIMIT 1)
        |SELECT CAST(365 AS BIGINT) AS horizon_days,
        |       CAST(h.head + tl.tail AS BIGINT) AS rmst_ppm_days
        |FROM h, tl""".stripMargin)),

    QueryDef("q301_valid_to_current", (s, d) => {
      // dbt 1.9 dbt_valid_to_current: the stored SCD2 history carries the
      // '9999-12-31' sentinel on OPEN rows instead of NULL (BETWEEN-filter
      // ergonomics) — applied going to storage, stripped coming back, so
      // run 2 advances run 1's sentineled history correctly
      import graft.engine.{Model, Registry, SnapshotMat, Snapshot}
      import java.sql.Timestamp
      val wh = Scratch.warehouse("q301", d, s, Seq("snap_members_sentinel"))
      val t1 = Timestamp.valueOf("2000-01-01 00:00:00")
      val t2 = Timestamp.valueOf("2000-02-01 00:00:00")
      val sentinel = Timestamp.valueOf("9999-12-31 00:00:00")
      val s1 = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("member_id"),
        col("c_mktsegment").as("segment"))
      val s2 = s1.filter(col("member_id") % 17 =!= 3)
        .select(col("member_id"),
          when(col("member_id") % 10 === 0, lit("CHANGED"))
            .otherwise(col("segment")).as("segment"))
        .unionByName(s1.filter(col("member_id") % 13 === 5)
          .select((col("member_id") + 1000000).as("member_id"),
            lit("NEW").as("segment")))
      def snapModel(ts: Timestamp) = Model("snap_members_sentinel",
        Seq("members_src"),
        SnapshotMat(Seq("member_id"), Snapshot.CheckStrategy(Seq("segment"), ts),
          Snapshot.Invalidate, ts, validToCurrent = Some(sentinel)),
        ctx => ctx.ref("members_src"))
      new Registry(s, wh).source("members_src", s1).register(snapModel(t1)).run()
      new Registry(s, wh).source("members_src", s2).register(snapModel(t2)).run()
      wh.read("snap_members_sentinel")
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
        |         TIMESTAMP '9999-12-31 00:00:00' AS dbt_valid_to
        |  FROM j WHERE m1 IS NOT NULL AND m2 IS NOT NULL AND seg1 = seg2
        |  UNION ALL
        |  SELECT m1, seg1, TIMESTAMP '2000-01-01 00:00:00', TIMESTAMP '2000-01-01 00:00:00',
        |         TIMESTAMP '2000-02-01 00:00:00'
        |  FROM j WHERE m1 IS NOT NULL AND m2 IS NOT NULL AND seg1 <> seg2
        |  UNION ALL
        |  SELECT m2, seg2, TIMESTAMP '2000-02-01 00:00:00', TIMESTAMP '2000-02-01 00:00:00',
        |         TIMESTAMP '9999-12-31 00:00:00'
        |  FROM j WHERE m1 IS NOT NULL AND m2 IS NOT NULL AND seg1 <> seg2
        |  UNION ALL
        |  SELECT m2, seg2, TIMESTAMP '2000-02-01 00:00:00', TIMESTAMP '2000-02-01 00:00:00',
        |         TIMESTAMP '9999-12-31 00:00:00'
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

    QueryDef("q302_t_closeness", (s, d) =>
      // the privacy ladder's third rung beside q235/q277: segments whose
      // nation distribution drifts more than t = 0.15 from the global one
      // leak membership information even when large and diverse — exact
      // ordered-EMD in ppm over the dense (group x domain) grid
      graft.operators.GenericTests.tCloseness(table(s, d, "customer"),
        Seq("c_mktsegment"), col("c_nationkey"), tPpm = 150000L),
      Some(
        """WITH base AS (SELECT c_mktsegment AS g, c_nationkey AS sv
          |              FROM customer WHERE c_nationkey IS NOT NULL),
          |cells AS (SELECT g, sv, count(*) AS c FROM base GROUP BY 1, 2),
          |gd AS (SELECT sv, count(*) AS gc FROM base GROUP BY 1),
          |gr AS (SELECT g, sum(c) AS ng FROM cells GROUP BY 1),
          |nt AS (SELECT count(*) AS n, count(DISTINCT sv) AS m FROM base),
          |grid AS (SELECT gr.g, gr.ng, gd.sv, gd.gc, coalesce(cells.c, 0) AS c
          |         FROM gr CROSS JOIN gd
          |         LEFT JOIN cells ON cells.g = gr.g AND cells.sv = gd.sv),
          |cum AS (SELECT g, ng,
          |               abs(sum(c) OVER wsum * n - sum(gc) OVER wsum * ng) AS diff,
          |               n, m
          |        FROM grid, nt
          |        WINDOW wsum AS (PARTITION BY g ORDER BY sv
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |ag AS (SELECT g, CAST(ng AS BIGINT) AS group_size, sum(diff) AS sd,
          |              max(n) AS n, max(m) AS m
          |       FROM cum GROUP BY 1, 2),
          |fin AS (SELECT g AS c_mktsegment, group_size,
          |               CAST(CASE WHEN m > 1
          |                    THEN (CAST(sd AS HUGEINT) * 1000000)
          |                         // ((CAST(group_size AS HUGEINT) * n) * (m - 1))
          |                    ELSE 0 END AS BIGINT) AS t_ppm
          |        FROM ag)
          |SELECT c_mktsegment, group_size, t_ppm, (t_ppm > 150000) AS at_risk
          |FROM fin""".stripMargin)),

    QueryDef("q303_sequential_looks", (s, d) =>
      // group-sequential A/B monitoring: four weekly interim looks at the
      // cumulative value diff, judged against the O'Brien-Fleming
      // boundary schedule (fixed micro constants) — the legitimate
      // alternative to peeking at 1.96 every week
      Inference.sequentialZ(events(s, d),
        (datediff(to_date(col("ts")),
          lit("2024-01-01").cast("date")) / lit(7)).cast("long") + 1L,
        floor(col("value") * 1000 + 0.5).cast("long"),
        expr("conv(substring(md5(concat(cast(user_id as string), '|ab')), 1, 8), 16, 10)")
          .cast("long") % 2L === 0L,
        boundariesMicro = Seq(4049000L, 2863000L, 2337000L, 2024000L)),
      Some(
        """WITH b AS (
          |  SELECT CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS BIGINT) + 1 AS look,
          |         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v,
          |         (('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|ab'), 1, 8))::BIGINT
          |            % 2 = 0) AS g
          |  FROM events),
          |f AS (SELECT * FROM b WHERE look >= 1 AND look <= 4),
          |pl AS (SELECT look,
          |              sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS na,
          |              sum(CASE WHEN NOT g THEN CAST(v AS HUGEINT) ELSE 0 END) AS sa,
          |              sum(CASE WHEN NOT g THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS saa,
          |              sum(CASE WHEN g THEN 1 ELSE 0 END) AS nb,
          |              sum(CASE WHEN g THEN CAST(v AS HUGEINT) ELSE 0 END) AS sb,
          |              sum(CASE WHEN g THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS sbb
          |       FROM f GROUP BY 1),
          |c AS (SELECT look,
          |             CAST(sum(na) OVER w AS BIGINT) AS n_a,
          |             CAST(sum(nb) OVER w AS BIGINT) AS n_b,
          |             sum(sa) OVER w AS csa, sum(saa) OVER w AS csaa,
          |             sum(sb) OVER w AS csb, sum(sbb) OVER w AS csbb
          |      FROM pl WINDOW w AS (ORDER BY look
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |z AS (SELECT look, n_a, n_b,
          |             (CAST(csb AS DOUBLE) / CAST(n_b AS DOUBLE)
          |                - CAST(csa AS DOUBLE) / CAST(n_a AS DOUBLE))
          |             / sqrt(
          |                 (CAST(CAST(n_a AS HUGEINT) * csaa - csa * csa AS DOUBLE)
          |                    / CAST(CAST(n_a AS HUGEINT) * (n_a - 1) AS DOUBLE))
          |                   / CAST(n_a AS DOUBLE)
          |               + (CAST(CAST(n_b AS HUGEINT) * csbb - csb * csb AS DOUBLE)
          |                    / CAST(CAST(n_b AS HUGEINT) * (n_b - 1) AS DOUBLE))
          |                   / CAST(n_b AS DOUBLE)) AS z
          |      FROM c WHERE n_a > 1 AND n_b > 1),
          |bd AS (SELECT * FROM (VALUES (1, 4049000), (2, 2863000),
          |                             (3, 2337000), (4, 2024000)) v(look, bm))
          |SELECT z.look, n_a, n_b, z,
          |       CAST(bd.bm AS BIGINT) AS boundary_micro,
          |       (abs(z) * 1000000.0 > CAST(bd.bm AS DOUBLE)) AS crossed
          |FROM z JOIN bd ON bd.look = z.look""".stripMargin)),

    QueryDef("q304_holt_winters", (s, d) =>
      // Holt-Winters triple smoothing (alpha 3/10, beta 1/10, gamma 2/10,
      // weekly season) of daily event value per type — the seasonal
      // forecast baseline completing EWMA (q210) and Holt (q274). The
      // oracle replays the truncated fixed-point recursion with a
      // recursive CTE carrying the seven seasonal lags as rotating
      // columns and trunc-division wrappers for the negative states.
      graft.pipeline.Stats.holtWintersDaily(events(s, d), Seq("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
        floor(col("value") * 1000 + 0.5).cast("long"),
        alphaNum = 3, alphaDen = 10, betaNum = 1, betaDen = 10,
        gammaNum = 2, gammaDen = 10),
      Some {
        def tdiv(num: String, den: Int) =
          s"(CASE WHEN ($num) >= 0 THEN ($num) // $den ELSE -((-($num)) // $den) END)"
        val lnum = "3 * dn.y * 1000000 - 3 * h.s7 + 7 * (h.l + h.b)"
        val bnum = "1 * (lx - h.l) + 9 * h.b"
        val snum = "2 * (dn.y * 1000000 - lx) + 8 * h.s7"
        s"""WITH RECURSIVE dc AS (
           |  SELECT event_type,
           |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
           |         CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS y
           |  FROM events GROUP BY 1, 2),
           |g AS (SELECT event_type, min(day) AS mn, max(day) AS mx FROM dc GROUP BY 1),
           |sp AS (SELECT event_type, unnest(generate_series(mn, mx)) AS day FROM g),
           |dn AS (SELECT sp.event_type, sp.day, coalesce(dc.y, 0) AS y,
           |              row_number() OVER (PARTITION BY sp.event_type
           |                ORDER BY sp.day) AS rn
           |       FROM sp LEFT JOIN dc ON dc.event_type = sp.event_type
           |         AND dc.day = sp.day),
           |h AS (
           |  SELECT event_type, day, rn, y * 1000000 AS l, CAST(0 AS BIGINT) AS b,
           |         CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2,
           |         CAST(0 AS BIGINT) AS s3, CAST(0 AS BIGINT) AS s4,
           |         CAST(0 AS BIGINT) AS s5, CAST(0 AS BIGINT) AS s6,
           |         CAST(0 AS BIGINT) AS s7
           |  FROM dn WHERE rn = 1
           |  UNION ALL
           |  SELECT dn.event_type, dn.day, dn.rn, lx, bx, sx,
           |         h.s1, h.s2, h.s3, h.s4, h.s5, h.s6
           |  FROM dn JOIN h ON dn.event_type = h.event_type AND dn.rn = h.rn + 1,
           |       LATERAL (SELECT ${tdiv(lnum, 10)} AS lx) l1,
           |       LATERAL (SELECT ${tdiv(bnum, 10)} AS bx,
           |                       ${tdiv(snum, 10)} AS sx) l2)
           |SELECT event_type, CAST(day AS BIGINT) AS day,
           |       CAST(l AS BIGINT) AS level_micro, CAST(b AS BIGINT) AS trend_micro,
           |       CAST(s1 AS BIGINT) AS seasonal_micro
           |FROM h""".stripMargin
      }),

    QueryDef("q305_uplift_by_channel", (s, d) => {
      // uplift by acquisition channel: per first-touch event type, the
      // treated-vs-control conversion rates (Beta(10,10)-smoothed point
      // estimates, raw-count two-proportion z) — where did treatment
      // CAUSE purchases, not just coincide with them
      val e = events(s, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val firstTouch = e.filter(col("event_type") =!= "purchase")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type").as("channel"))
      val conv = e.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct().withColumn("__cv", lit(true))
      val users = firstTouch.join(conv, Seq("user_id"), "left")
        .select(col("channel"),
          (expr("conv(substring(md5(concat(cast(user_id as string), '|ab')), 1, 8), 16, 10)")
            .cast("long") % 2L === 0L).as("t"),
          coalesce(col("__cv"), lit(false)).as("cv"))
      Inference.upliftBySegment(users, Seq("channel"), col("t"), col("cv"),
        priorA = 10L, priorB = 10L)
    }, Some(
      """WITH f AS (SELECT user_id, event_type AS channel FROM (
        |   SELECT user_id, event_type,
        |          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |   FROM events WHERE event_type <> 'purchase') t WHERE rn = 1),
        |cv AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT f.channel,
        |             (('0x' || substr(md5(CAST(f.user_id AS VARCHAR) || '|ab'), 1, 8))::BIGINT
        |                % 2 = 0) AS t,
        |             (cv.user_id IS NOT NULL) AS c
        |      FROM f LEFT JOIN cv ON f.user_id = cv.user_id),
        |a AS (SELECT channel,
        |             CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |             CAST(sum(CASE WHEN t AND c THEN 1 ELSE 0 END) AS BIGINT) AS conv_t,
        |             CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |             CAST(sum(CASE WHEN NOT t AND c THEN 1 ELSE 0 END) AS BIGINT) AS conv_c
        |      FROM u GROUP BY 1),
        |r AS (SELECT *, CAST((conv_t + 10) * 1000000 // (n_t + 20) AS BIGINT) AS rate_t_ppm,
        |             CAST((conv_c + 10) * 1000000 // (n_c + 20) AS BIGINT) AS rate_c_ppm
        |      FROM a WHERE n_t > 0 AND n_c > 0)
        |SELECT channel, n_t, conv_t, n_c, conv_c, rate_t_ppm, rate_c_ppm,
        |       rate_t_ppm - rate_c_ppm AS uplift_ppm,
        |       CASE WHEN conv_t + conv_c > 0 AND conv_t + conv_c < n_t + n_c THEN
        |         (CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |            - CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE))
        |         / sqrt((CAST(conv_t + conv_c AS DOUBLE) / CAST(n_t + n_c AS DOUBLE))
        |                * (1.0 - CAST(conv_t + conv_c AS DOUBLE) / CAST(n_t + n_c AS DOUBLE))
        |                * (1.0 / CAST(n_t AS DOUBLE) + 1.0 / CAST(n_c AS DOUBLE)))
        |       END AS z
        |FROM r""".stripMargin)),

    QueryDef("q306_time_to_convert", (s, d) => {
      // the funnel's latency face: minutes from a user's first view to
      // the first subsequent purchase, summarized as EXACT interpolated
      // p50/p90/p99 in integer micro-minutes (the q242 machinery over the
      // view->purchase deltas)
      val e = events(s, d)
      val v1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("tv"))
      val deltas = e.filter(col("event_type") === "purchase")
        .join(v1, "user_id")
        .filter(col("ts") > col("tv"))
        .groupBy(col("user_id"), col("tv")).agg(min(col("ts")).as("tp"))
        .select(floor((unix_micros(col("tp")) - unix_micros(col("tv"))) /
          lit(60000000L)).cast("long").as("mins"))
      graft.pipeline.Stats.interpolatedQuantiles(deltas, Nil, col("mins"),
        Seq(500, 900, 990))
    }, Some(
      """WITH v1 AS (SELECT user_id, min(ts) AS tv FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |dl AS (SELECT (epoch_us(min(e.ts)) - epoch_us(v1.tv)) // 60000000 AS mins
        |       FROM events e JOIN v1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > v1.tv
        |       GROUP BY e.user_id, v1.tv),
        |c AS (SELECT mins AS v, CAST(count(*) AS BIGINT) AS cnt FROM dl GROUP BY 1),
        |w AS (SELECT v, cnt,
        |             CAST(sum(cnt) OVER (ORDER BY v ASC) AS BIGINT) AS cum,
        |             CAST(sum(cnt) OVER () AS BIGINT) AS tot
        |      FROM c),
        |p AS (SELECT v, cnt, cum, tot, q.q AS q_mille,
        |             (q.q * (tot - 1)) // 1000 AS ip,
        |             (q.q * (tot - 1)) % 1000 AS rem
        |      FROM w, (VALUES (500), (900), (990)) q(q)),
        |p2 AS (SELECT *, ip + CASE WHEN rem > 0 THEN 1 ELSE 0 END AS ip2 FROM p)
        |SELECT CAST(q_mille AS INTEGER) AS q_mille,
        |       CAST(max(tot) AS BIGINT) AS n_values,
        |       CAST(max(CASE WHEN cum - cnt <= ip AND ip < cum THEN v END) * 1000000
        |            + max(rem) * (max(CASE WHEN cum - cnt <= ip2 AND ip2 < cum THEN v END)
        |                          - max(CASE WHEN cum - cnt <= ip AND ip < cum THEN v END)) * 1000
        |            AS BIGINT) AS value_micro
        |FROM p2
        |WHERE (cum - cnt <= ip AND ip < cum) OR (cum - cnt <= ip2 AND ip2 < cum)
        |GROUP BY 1""".stripMargin)),

    QueryDef("q307_cramer_von_mises", (s, d) =>
      // Cramér-von Mises on the q262 comparison: the whole-distribution
      // statistic beside KS's max gap — squared ECDF gaps integrated over
      // every observation, exact micro units on the same distinct-cents
      // rollup
      Inference.cramerVonMises(
        table(s, d, "orders").filter(col("o_orderstatus").isin("O", "F")),
        Features.cents(col("o_totalprice")), col("o_orderstatus") === "F"),
      Some(
        s"""WITH v AS (
           |  SELECT ${centsSql("o_totalprice")} AS v, (o_orderstatus = 'F') AS b
           |  FROM orders WHERE o_orderstatus IN ('O', 'F')),
           |r AS (SELECT v, sum(CASE WHEN b THEN 0 ELSE 1 END) AS cnt_a,
           |             sum(CASE WHEN b THEN 1 ELSE 0 END) AS cnt_b
           |      FROM v GROUP BY v),
           |c AS (SELECT v, cnt_a, cnt_b,
           |             sum(cnt_a) OVER (ORDER BY v) AS cum_a,
           |             sum(cnt_b) OVER (ORDER BY v) AS cum_b FROM r),
           |t AS (SELECT max(cum_a) AS n_a, max(cum_b) AS n_b FROM c),
           |s AS (SELECT CAST(t.n_a AS BIGINT) AS n_a, CAST(t.n_b AS BIGINT) AS n_b,
           |             sum(CAST(cnt_a + cnt_b AS HUGEINT)
           |                 * (CAST(cum_a AS HUGEINT) * t.n_b - CAST(cum_b AS HUGEINT) * t.n_a)
           |                 * (CAST(cum_a AS HUGEINT) * t.n_b - CAST(cum_b AS HUGEINT) * t.n_a))
           |               AS ss
           |      FROM c, t GROUP BY 1, 2)
           |SELECT n_a, n_b,
           |       CAST((ss * 1000000)
           |            // ((CAST(n_a AS HUGEINT) * n_b)
           |               * (CAST(n_a + n_b AS HUGEINT) * (n_a + n_b))) AS BIGINT)
           |         AS t_micro
           |FROM s""".stripMargin)),

    QueryDef("q308_ks_by_segment", (s, d) =>
      // the nightly drift sweep: per event type, KS of the first-half vs
      // second-half month value distributions — the fleet version of
      // q262 whose ECDF windows PARTITION by segment and run fully
      // parallel (no global funnel, no guard needed)
      Inference.ksTestByGroup(events(s, d), Seq("event_type"),
        floor(col("value") * 1000 + 0.5).cast("long"),
        dayofmonth(col("ts")) >= 16),
      Some(
        """WITH v AS (
          |  SELECT event_type, CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v,
          |         (CAST(extract(day FROM ts) AS INTEGER) >= 16) AS b
          |  FROM events),
          |r AS (SELECT event_type, v,
          |             sum(CASE WHEN b THEN 0 ELSE 1 END) AS cnt_a,
          |             sum(CASE WHEN b THEN 1 ELSE 0 END) AS cnt_b
          |      FROM v GROUP BY 1, 2),
          |c AS (SELECT event_type, v,
          |             sum(cnt_a) OVER w AS cum_a, sum(cnt_b) OVER w AS cum_b,
          |             sum(cnt_a) OVER g AS n_a, sum(cnt_b) OVER g AS n_b
          |      FROM r
          |      WINDOW w AS (PARTITION BY event_type ORDER BY v),
          |             g AS (PARTITION BY event_type))
          |SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
          |       CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_num,
          |       CAST((CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS HUGEINT) * 1000000)
          |            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS d_ppm
          |FROM c
          |WHERE n_a > 0 AND n_b > 0
          |GROUP BY event_type, n_a, n_b""".stripMargin)),

    QueryDef("q271_dhash_neardup", (s, d) => {
      // perceptual image near-dup: per doc a REAL 9x8 grayscale PNG whose
      // pixels derive from doc_id arithmetic (40 shared motifs; every 5th
      // doc carries a one-pixel corruption), decoded back through imageio
      // into the 64-bit dHash as four 16-bit bands; banded-LSH self-join +
      // hamming <= 3 verification — recall exact by pigeonhole at this
      // radius. The oracle re-derives every gradient bit from the same
      // arithmetic, no decoder needed.
      implicit val sp: org.apache.spark.sql.SparkSession = s
      import sp.implicits._
      val imgs = table(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        // codec work is CPU-bound per row: spread a single-split input
        // BEFORE the encode mapPartitions — only 8-byte ids shuffle
        // (Sources.fanOut scaladoc; q135 measured 5.8 -> 0.6 s)
        .transform(graft.sources.Sources.fanOut(_)).as[Long]
        .mapPartitions(ids => ids.map { id =>
          val key = (id % 40).toInt
          (id, Multimodal.encodePng(9, 8, (x, y) => {
            val base = (x * 17 + y * 29 + (x * y % 7) * 41 + key * 53) % 256
            val g = if (id % 5 == 0 && x == 0 && y == 0) (base + 128) % 256
                    else base
            (g, g, g)
          }))
        }).toDF("doc_id", "media")
      Multimodal.dhashNearDupPairs(
        Multimodal.dhashImages(imgs).toDF(), maxHamming = 3)
    }, Some(
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |                  CAST(doc_id % 40 AS INTEGER) AS key,
        |                  (doc_id % 5 = 0) AS noisy
        |           FROM documents),
        |bits AS (
        |  SELECT doc_id, i,
        |         CASE WHEN
        |           ((i % 8 + 1) * 17 + (i // 8) * 29
        |              + (((i % 8 + 1) * (i // 8)) % 7) * 41 + key * 53) % 256
        |           >
        |           (CASE WHEN noisy AND (i % 8) = 0 AND (i // 8) = 0
        |                 THEN (((i % 8) * 17 + (i // 8) * 29
        |                         + (((i % 8) * (i // 8)) % 7) * 41 + key * 53) % 256
        |                       + 128) % 256
        |                 ELSE ((i % 8) * 17 + (i // 8) * 29
        |                         + (((i % 8) * (i // 8)) % 7) * 41 + key * 53) % 256
        |            END)
        |         THEN 1 ELSE 0 END AS bit
        |  FROM d, (SELECT unnest(generate_series(0, 63)) AS i) t),
        |bands AS (SELECT doc_id, i // 16 AS band,
        |                 CAST(sum(bit << (i % 16)) AS INTEGER) AS bv
        |          FROM bits GROUP BY 1, 2),
        |h AS (SELECT doc_id,
        |             max(CASE WHEN band = 0 THEN bv END) AS b0,
        |             max(CASE WHEN band = 1 THEN bv END) AS b1,
        |             max(CASE WHEN band = 2 THEN bv END) AS b2,
        |             max(CASE WHEN band = 3 THEN bv END) AS b3
        |      FROM bands GROUP BY doc_id),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |                a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
        |                b.b0 AS c0, b.b1 AS c1, b.b2 AS c2, b.b3 AS c3
        |         FROM h a JOIN h b ON a.doc_id < b.doc_id
        |           AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)),
        |ham AS (SELECT id_a, id_b,
        |               CAST(bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
        |                  + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3))
        |                 AS INTEGER) AS hamming
        |        FROM cand)
        |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3""".stripMargin)))
}
