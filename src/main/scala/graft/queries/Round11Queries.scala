package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Features
import graft.pipeline.{Inference, Stats, TextAnalysis}
import graft.sources.Sources.{events, table}
import graft.engine.Pin.PinOps

/** Round-11 battery: the remaining evaluation / survey / distribution
  * statistics a training-data platform runs that rounds 1-10 had not yet
  * covered — metric-aware distribution distance (Wasserstein-1), the
  * binary-classifier cell statistic (MCC), weighting-cost audits (Kish
  * neff/deff), multiple-testing control (Benjamini-Hochberg), and
  * chance-corrected agreement under missing ratings (Krippendorff's
  * alpha). Same exact-arithmetic discipline as the earlier batteries:
  * integer/DECIMAL moments, one fixed IEEE chain per irrational output,
  * oracles mirror the chain verbatim.
  */
object Round11Queries extends QuerySet {

  val all: Seq[QueryDef] = Seq(

    QueryDef("q429_wasserstein", (s, d) =>
      // how far apart are large-lot vs small-lot line price
      // distributions, in actual MONEY units, per return flag? KS/CvM
      // (q275/q276 family) see only ECDF gaps; W1 integrates the gap
      // over the price axis, so the answer reads "the distributions are
      // ~X micro-cents of transport apart". Price is INDEPENDENT of
      // quantity in the synthetic data (corr ~0.01, value-inspected),
      // so the readout is the honest ECDF-noise floor: ~$240-710 of
      // transport against a ~$50k price spread at n ~ 10k/side — the
      // baseline magnitude a W1 drift alarm must clear before paging.
      Inference.wassersteinByGroup(table(s, d, "lineitem"),
        Seq("l_returnflag"), Features.cents(col("l_extendedprice")),
        col("l_quantity") > 25),
      Some(
        s"""WITH base AS (
           |  SELECT l_returnflag AS g, ${centsSql("l_extendedprice")} AS v,
           |         (l_quantity > 25) AS b
           |  FROM lineitem),
           |c AS (SELECT g, v,
           |             sum(CASE WHEN b THEN 0 ELSE 1 END) AS cnt_a,
           |             sum(CASE WHEN b THEN 1 ELSE 0 END) AS cnt_b
           |      FROM base GROUP BY 1, 2),
           |tot AS (SELECT g, sum(cnt_a) AS n_a, sum(cnt_b) AS n_b
           |        FROM c GROUP BY 1),
           |w AS (SELECT g, v, cnt_a, cnt_b,
           |             sum(cnt_a) OVER (PARTITION BY g ORDER BY v) AS cum_a,
           |             sum(cnt_b) OVER (PARTITION BY g ORDER BY v) AS cum_b,
           |             sum(cnt_a) OVER (PARTITION BY g) AS n_a,
           |             sum(cnt_b) OVER (PARTITION BY g) AS n_b,
           |             lead(v) OVER (PARTITION BY g ORDER BY v) AS nv
           |      FROM c),
           |t AS (SELECT g,
           |             sum(abs(CAST(cum_a AS HUGEINT) * n_b
           |                     - CAST(cum_b AS HUGEINT) * n_a)
           |                 * (nv - v)) AS s
           |      FROM w WHERE nv IS NOT NULL GROUP BY 1)
           |SELECT tot.g AS l_returnflag, CAST(tot.n_a AS BIGINT) AS n_a,
           |       CAST(tot.n_b AS BIGINT) AS n_b,
           |       CAST((COALESCE(t.s, 0) * 1000000)
           |            // (CAST(tot.n_a AS HUGEINT) * tot.n_b)
           |            AS BIGINT) AS w1_micro
           |FROM tot LEFT JOIN t ON tot.g = t.g
           |WHERE tot.n_a > 0 AND tot.n_b > 0""".stripMargin)),

    QueryDef("q430_mcc_confusion", (s, d) =>
      // does a naive price threshold predict urgency? Binary confusion
      // cells + accuracy/precision/recall/F1 ppm + Matthews correlation
      // — priorities are assigned independently of price in the
      // synthetic data, so MCC should sit near 0: the
      // imbalance-robust null readout accuracy alone would hide (always
      // predicting the majority class reads ~60% accurate here).
      Inference.matthewsCorrelation(table(s, d, "orders"),
        col("o_totalprice") > 150000,
        col("o_orderpriority").isin("1-URGENT", "2-HIGH")),
      Some(
        """WITH b AS (
          |  SELECT (o_totalprice > 150000) AS p,
          |         (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS y
          |  FROM orders),
          |c AS (SELECT
          |        sum(CASE WHEN p AND y THEN 1 ELSE 0 END) AS tp,
          |        sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END) AS fp,
          |        sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END) AS fn,
          |        sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END) AS tn
          |      FROM b)
          |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
          |       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
          |       CASE WHEN tp + fp + fn + tn > 0 THEN
          |         CAST(((tp + tn) * 1000000) // (tp + fp + fn + tn) AS BIGINT)
          |       END AS accuracy_ppm,
          |       CASE WHEN tp + fp > 0 THEN
          |         CAST((tp * 1000000) // (tp + fp) AS BIGINT)
          |       END AS precision_ppm,
          |       CASE WHEN tp + fn > 0 THEN
          |         CAST((tp * 1000000) // (tp + fn) AS BIGINT)
          |       END AS recall_ppm,
          |       CASE WHEN tp * 2 + fp + fn > 0 THEN
          |         CAST((tp * 2000000) // (tp * 2 + fp + fn) AS BIGINT)
          |       END AS f1_ppm,
          |       CASE WHEN tp + fp > 0 AND tp + fn > 0
          |             AND tn + fp > 0 AND tn + fn > 0 THEN
          |         CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn
          |              AS DOUBLE)
          |         / (((sqrt(CAST(tp + fp AS DOUBLE))
          |              * sqrt(CAST(tp + fn AS DOUBLE)))
          |             * sqrt(CAST(tn + fp AS DOUBLE)))
          |            * sqrt(CAST(tn + fn AS DOUBLE)))
          |       END AS mcc
          |FROM c""".stripMargin)),

    QueryDef("q431_kish_neff", (s, d) =>
      // if documents were sampled proportional to length, how much
      // effective sample would the length weighting cost per language?
      // Kish neff/deff on n_chars-as-milli-weights: deff_ppm near 1e6 =
      // near-uniform lengths; heavy-tailed lengths push neff well below
      // n — the standard audit before trusting any weighted estimate.
      Inference.kishEffectiveSample(
        table(s, d, "documents"), Seq("lang"), col("n_chars")),
      Some(
        """WITH b AS (
          |  SELECT lang, CAST(n_chars AS BIGINT) AS w
          |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
          |SELECT lang, CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(w) AS BIGINT) AS sum_w_milli,
          |       CAST((CAST(sum(w) AS HUGEINT) * sum(w) * 1000)
          |            // sum(CAST(w AS HUGEINT) * w) AS BIGINT) AS neff_milli,
          |       CAST((sum(CAST(w AS HUGEINT) * w) * count(*) * 1000000)
          |            // (CAST(sum(w) AS HUGEINT) * sum(w)) AS BIGINT)
          |         AS deff_ppm
          |FROM b GROUP BY 1""".stripMargin)),

    QueryDef("q432_bh_fdr", (s, d) => {
      // FDR-controlled post-hoc battery as a PLANTED-SHIFT validation
      // harness (every distribution in the synthetic data is
      // independent noise — value-inspected — so real signal must be
      // planted): orders land in 8 arms by o_orderkey % 8 (independent
      // of price), arms 6/7 get known +$50k/+$100k shifts, Dunn z runs
      // on every arm pair off the shared rank pool, z -> conservative
      // Chebyshev pseudo-p (p <= 1/z^2, exact and log/erf-free), then
      // Benjamini-Hochberg at alpha = 10%. The step-up staircase must
      // reject exactly the 13 planted pairs and keep the 15 null pairs
      // — the multiple-testing discipline a fleet-wide monitoring
      // sweep needs before paging anyone, with both branches live.
      val g = (col("o_orderkey") % 8L).cast("long")
      val dosed = table(s, d, "orders").select(
        g.as("g"),
        (Features.cents(col("o_totalprice")) +
          when(g === 6L, 5000000L).when(g === 7L, 10000000L)
            .otherwise(0L)).as("v"))
      val z = Inference.dunnPosthoc(dosed, col("v"), col("g"))
      val p = z.select(
        concat_ws("|", col("g_a").cast("string"), col("g_b").cast("string"))
          .as("tid"),
        coalesce(
          floor(least(lit(1000000.0),
            lit(1000000.0) / (col("z") * col("z")))).cast("long"),
          lit(1000000L)).as("p"))
      Inference.bhFdr(p, col("tid"), col("p"), alphaPpm = 100000L)
    }, Some(
      s"""WITH v AS (SELECT ${centsSql("o_totalprice")}
         |                  + CASE WHEN o_orderkey % 8 = 6 THEN 5000000
         |                         WHEN o_orderkey % 8 = 7 THEN 10000000
         |                         ELSE 0 END AS v,
         |                  CAST(o_orderkey % 8 AS BIGINT) AS g
         |           FROM orders),
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
         |       FROM vt),
         |z AS (SELECT a.g AS g_a, b.g AS g_b,
         |             CASE WHEN tt.n > 1 THEN
         |               (CAST(a.r2_g AS DOUBLE) / CAST(a.n_g AS DOUBLE)
         |                - CAST(b.r2_g AS DOUBLE) / CAST(b.n_g AS DOUBLE))
         |               / (2.0 * sqrt(
         |                   ((CAST(CAST(tt.n AS HUGEINT) * (tt.n + 1) AS DOUBLE)
         |                     - CAST(tt.tie AS DOUBLE)
         |                       / CAST(tt.n - 1 AS DOUBLE)) / 12.0)
         |                   * (1.0 / CAST(a.n_g AS DOUBLE)
         |                      + 1.0 / CAST(b.n_g AS DOUBLE))))
         |             END AS z
         |      FROM pg a JOIN pg b ON a.g < b.g, tt),
         |p AS (SELECT CAST(g_a AS VARCHAR) || '|' || CAST(g_b AS VARCHAR)
         |               AS test_id,
         |             CAST(coalesce(floor(least(1000000.0,
         |                    1000000.0 / (z * z))), 1000000) AS BIGINT)
         |               AS p_ppm
         |      FROM z),
         |rk AS (SELECT test_id, p_ppm,
         |              CAST(row_number() OVER (ORDER BY p_ppm, test_id)
         |                   AS BIGINT) AS rank,
         |              CAST(count(*) OVER () AS BIGINT) AS m
         |       FROM p),
         |k AS (SELECT coalesce(max(CASE WHEN p_ppm * m <= 100000 * rank
         |                               THEN rank END), 0) AS k
         |      FROM rk)
         |SELECT test_id, p_ppm, rank, m,
         |       CAST((100000 * rank) // m AS BIGINT) AS bh_critical_ppm,
         |       (rank <= k) AS rejected
         |FROM rk, k""".stripMargin)),

    QueryDef("q433_krippendorff_alpha", (s, d) =>
      // do the lines of one order agree on their return flag? Orders are
      // the units, each line a "rating" — the missing-data agreement
      // statistic (units have 1-17 ratings; singletons drop as
      // unpairable). Flags are assigned independently of the order in
      // the synthetic data, so alpha should sit near 0: the
      // chance-corrected null that raw percent-agreement (~33%+) would
      // misread as real consistency. L = lcm(1..19) = 232792560 clears
      // every per-unit 1/(m_u-1) exactly.
      Inference.krippendorffAlpha(table(s, d, "lineitem"),
        col("l_orderkey"), col("l_returnflag")),
      Some(
        """WITH r AS (SELECT l_orderkey AS u, l_returnflag AS c FROM lineitem
          |           WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL),
          |uv AS (SELECT u, c, CAST(count(*) AS BIGINT) AS n_uc
          |       FROM r GROUP BY 1, 2),
          |us AS (SELECT u, CAST(sum(n_uc) AS BIGINT) AS m_u
          |       FROM uv GROUP BY 1 HAVING sum(n_uc) >= 2),
          |dl AS (SELECT CAST(sum((232792560 // (m_u - 1)) * n_uc
          |                       * (m_u - n_uc)) AS HUGEINT) AS do_l,
          |              CAST(count(DISTINCT uv.u) AS BIGINT) AS n_units
          |       FROM uv JOIN us USING (u)),
          |pc AS (SELECT c, CAST(sum(n_uc) AS BIGINT) AS n_c
          |       FROM uv JOIN us USING (u) GROUP BY 1),
          |de AS (SELECT CAST(sum(n_c) AS BIGINT) AS n_ratings,
          |              sum(CAST(n_c AS HUGEINT) * n_c) AS sq
          |       FROM pc)
          |SELECT n_units, n_ratings,
          |       CAST(1000000 - (1000000 * CAST(n_ratings - 1 AS HUGEINT)
          |                       * do_l)
          |            // nullif(CAST(232792560 AS HUGEINT)
          |                     * (CAST(n_ratings AS HUGEINT) * n_ratings - sq),
          |                     0) AS BIGINT) AS alpha_ppm
          |FROM dl, de""".stripMargin)),

    QueryDef("q434_qq_table", (s, d) => {
      // Q-Q table: purchase vs view value distributions compared
      // quantile-by-quantile (p10/p25/p50/p75/p90 in exact interpolated
      // micro-milli units) — WHERE the distributions diverge, not just
      // whether (q275's KS) or by how much in aggregate (q429's W1).
      val q = Stats.interpolatedQuantiles(
        events(s, d).filter(col("event_type").isin("view", "purchase")),
        Seq("event_type"), floor(col("value") * 1000 + 0.5).cast("long"),
        Seq(100, 250, 500, 750, 900))
        .pinLazy() // feeds both pivot sides
      q.filter(col("event_type") === "purchase")
        .select(col("q_mille"), col("n_values").as("n_purchase"),
          col("value_micro").as("purchase_micro"))
        .join(q.filter(col("event_type") === "view")
          .select(col("q_mille"), col("n_values").as("n_view"),
            col("value_micro").as("view_micro")), Seq("q_mille"))
        .withColumn("qq_gap_micro",
          col("purchase_micro") - col("view_micro"))
    }, Some(
      """WITH c AS (
        |  SELECT event_type,
        |         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, v, cnt,
        |         CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY v ASC)
        |              AS BIGINT) AS cum,
        |         CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS tot
        |  FROM c),
        |p AS (
        |  SELECT event_type, v, cnt, cum, tot, q.q AS q_mille,
        |         (q.q * (tot - 1)) // 1000 AS ip,
        |         (q.q * (tot - 1)) % 1000 AS rem
        |  FROM w, (VALUES (100), (250), (500), (750), (900)) q(q)),
        |p2 AS (SELECT *, ip + CASE WHEN rem > 0 THEN 1 ELSE 0 END AS ip2 FROM p),
        |qt AS (
        |  SELECT event_type, CAST(q_mille AS INTEGER) AS q_mille,
        |         CAST(max(tot) AS BIGINT) AS n_values,
        |         CAST(max(CASE WHEN cum - cnt <= ip AND ip < cum THEN v END)
        |                * 1000000
        |              + max(rem)
        |                * (max(CASE WHEN cum - cnt <= ip2 AND ip2 < cum THEN v END)
        |                   - max(CASE WHEN cum - cnt <= ip AND ip < cum THEN v END))
        |                * 1000 AS BIGINT) AS value_micro
        |  FROM p2
        |  WHERE (cum - cnt <= ip AND ip < cum) OR (cum - cnt <= ip2 AND ip2 < cum)
        |  GROUP BY 1, 2)
        |SELECT a.q_mille, a.n_values AS n_purchase,
        |       a.value_micro AS purchase_micro,
        |       b.n_values AS n_view, b.value_micro AS view_micro,
        |       a.value_micro - b.value_micro AS qq_gap_micro
        |FROM qt a JOIN qt b USING (q_mille)
        |WHERE a.event_type = 'purchase' AND b.event_type = 'view'""".stripMargin)),

    QueryDef("q435_rake_keyphrases", (s, d) =>
      // RAKE candidate keyphrases over the corpus: maximal non-stopword
      // runs ('a'/'the' are the corpus's real stopwords — value-
      // inspected top tokens), per-document degree/frequency word scores
      // in exact milli, phrase score = integer sum. The cheap per-doc
      // sibling of q280's corpus-level TextRank graph.
      TextAnalysis.rakeKeyphrases(
        table(s, d, "documents"), col("doc_id").cast("long"), col("text"),
        stopwords = Seq("a", "the", "and", "of", "to", "in"),
        minWords = 2),
      Some(
        """WITH tok AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
          |         unnest(generate_series(1, len(string_split(text, ' '))))
          |           AS pos
          |  FROM documents WHERE text IS NOT NULL),
          |t2 AS (SELECT doc_id, pos, lower(w) AS wl,
          |              (lower(w) IN ('a','the','and','of','to','in')
          |               OR w = '') AS stop
          |       FROM tok),
          |sg AS (SELECT *, sum(CASE WHEN stop THEN 1 ELSE 0 END)
          |                 OVER (PARTITION BY doc_id ORDER BY pos) AS seg
          |       FROM t2),
          |wd AS (SELECT doc_id, seg, pos, wl FROM sg WHERE NOT stop),
          |pl AS (SELECT doc_id, seg, CAST(count(*) AS BIGINT) AS len
          |       FROM wd GROUP BY 1, 2),
          |ws AS (SELECT w.doc_id, w.wl, CAST(count(*) AS BIGINT) AS freq,
          |              CAST(sum(len) AS BIGINT) AS deg
          |       FROM wd w JOIN pl USING (doc_id, seg) GROUP BY 1, 2),
          |sc AS (SELECT doc_id, wl,
          |              CAST((deg * 1000) // freq AS BIGINT) AS score
          |       FROM ws),
          |ph AS (SELECT w.doc_id, w.seg,
          |              string_agg(w.wl, ' ' ORDER BY w.pos) AS phrase,
          |              CAST(count(*) AS BIGINT) AS n_words,
          |              CAST(sum(score) AS BIGINT) AS score_milli
          |       FROM wd w JOIN sc USING (doc_id, wl) GROUP BY 1, 2)
          |SELECT CAST(doc_id AS BIGINT) AS doc_id, phrase,
          |       max(n_words) AS n_words, max(score_milli) AS score_milli,
          |       CAST(count(*) AS BIGINT) AS n_occurrences
          |FROM ph WHERE n_words >= 2 GROUP BY 1, 2""".stripMargin)),

    QueryDef("q436_gini_screen", (s, d) => {
      // decision-stump feature screen vs the lang='en' label, three
      // candidates: the raw length (independent of lang — decrease ~0),
      // a PLANTED positive control (length + 200 for English docs — the
      // screen must find a threshold separating them), and pure noise
      // (doc_id mod 97). The planted/null contrast is the point: one
      // operator, both branches exercised, exactly like q432's harness.
      val docs = table(s, d, "documents")
      val en = col("lang") === "en"
      def screen(name: String, feat: org.apache.spark.sql.Column) =
        Features.giniSplitScreen(docs, feat, en)
          .select(lit(name).as("feature"), col("n"), col("n_pos"),
            col("parent_ppm"), col("best_threshold"),
            col("best_child_ppm"), col("decrease_ppm"))
      screen("n_chars_null", col("n_chars"))
        .unionByName(screen("n_chars_planted",
          col("n_chars") + when(en, 200L).otherwise(0L)))
        .unionByName(screen("docid_noise", col("doc_id") % 97L))
    }, Some {
      def one(name: String, feat: String) =
        s"""SELECT '$name' AS feature, n, n_pos,
           |       CAST((2000000 * CAST(n_pos AS HUGEINT) * (n - n_pos))
           |            // (CAST(n AS HUGEINT) * n) AS BIGINT) AS parent_ppm,
           |       best_threshold, best_child_ppm,
           |       CAST((2000000 * CAST(n_pos AS HUGEINT) * (n - n_pos))
           |            // (CAST(n AS HUGEINT) * n) AS BIGINT)
           |         - best_child_ppm AS decrease_ppm
           |FROM (
           |  WITH f AS (SELECT CAST($feat AS BIGINT) AS v,
           |                    (lang = 'en') AS y
           |             FROM documents
           |             WHERE ($feat) IS NOT NULL AND lang IS NOT NULL),
           |  c AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
           |               CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
           |                 AS pos
           |        FROM f GROUP BY 1),
           |  cm AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS nl,
           |                CAST(sum(pos) OVER (ORDER BY v) AS BIGINT) AS pl
           |         FROM c),
           |  tt AS (SELECT max(nl) AS n, max(pl) AS n_pos FROM cm),
           |  cd AS (SELECT v,
           |                CAST((2000000 * (CAST(pl AS HUGEINT) * (nl - pl)
           |                                   * (n - nl)
           |                      + CAST(n_pos - pl AS HUGEINT)
           |                        * ((n - nl) - (n_pos - pl)) * nl))
           |                     // (CAST(nl AS HUGEINT) * (n - nl) * n)
           |                     AS BIGINT) AS child
           |         FROM cm, tt WHERE nl < n),
           |  b AS (SELECT min(child) AS bc FROM cd),
           |  bv AS (SELECT bc AS best_child_ppm, min(v) AS best_threshold
           |         FROM cd, b WHERE child = bc GROUP BY 1)
           |  SELECT n, n_pos, best_threshold, best_child_ppm FROM tt, bv)""".stripMargin
      one("n_chars_null", "n_chars") + "\nUNION ALL\n" +
        one("n_chars_planted",
          "n_chars + CASE WHEN lang = 'en' THEN 200 ELSE 0 END") +
        "\nUNION ALL\n" + one("docid_noise", "doc_id % 97")
    }),

    QueryDef("q437_seasonal_decompose", (s, d) =>
      // the additive decomposition TABLE behind q293's single
      // seasonality index: daily revenue per priority split into a
      // centered 7-day trend, a day-of-week profile, and what's left —
      // all exact milli-cents (sign-wrapped seasonal means; epoch-day
      // mod 7 phases, never an engine dayofweek).
      Stats.seasonalDecompose(
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
           |gr AS (SELECT g, min(day) AS mn, max(day) AS mx FROM dl GROUP BY 1),
           |sp AS (SELECT g, unnest(generate_series(mn, mx)) AS day FROM gr),
           |dn AS (SELECT sp.g, sp.day, coalesce(dl.y, 0) AS y
           |       FROM sp LEFT JOIN dl ON dl.g = sp.g AND dl.day = sp.day),
           |w AS (SELECT g, day, y,
           |             CAST(sum(y) OVER (PARTITION BY g ORDER BY day
           |                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           |                  AS BIGINT) AS s7,
           |             count(*) OVER (PARTITION BY g ORDER BY day
           |                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7
           |      FROM dn),
           |d2 AS (SELECT g, day, y,
           |              (s7 * 1000) // 7 AS trend_milli,
           |              y * 1000 - (s7 * 1000) // 7 AS detrended_milli,
           |              day % 7 AS ph
           |       FROM w WHERE n7 = 7),
           |se AS (SELECT g, ph,
           |              CASE WHEN sum(detrended_milli) >= 0
           |                   THEN sum(detrended_milli) // count(*)
           |                   ELSE -((-sum(detrended_milli)) // count(*))
           |              END AS seasonal_milli
           |       FROM d2 GROUP BY 1, 2)
           |SELECT g AS o_orderpriority, day, y, trend_milli,
           |       detrended_milli, CAST(seasonal_milli AS BIGINT)
           |         AS seasonal_milli,
           |       CAST(detrended_milli - seasonal_milli AS BIGINT)
           |         AS residual_milli
           |FROM d2 JOIN se USING (g, ph)""".stripMargin)),

    QueryDef("q438_arc_elasticity", (s, d) =>
      // midpoint price elasticity per brand between the two halves of
      // the order history (1996+ vs before). Prices are independent of
      // period in the synthetic data, so the per-brand price moves are
      // noise-small and the elasticities are the honest LOW-SIGNAL
      // readout (huge magnitudes from near-zero denominators are the
      // expected behavior of the midpoint formula on an unchanged
      // price — exactly why a real pricing team gates on |dp| first).
      Features.arcElasticity(
        table(s, d, "lineitem").join(table(s, d, "part"),
          col("l_partkey") === col("p_partkey")),
        Seq("p_brand"), year(to_date(col("l_shipdate"))) >= 1996,
        col("l_quantity"), Features.cents(col("l_extendedprice"))),
      Some(
        s"""WITH base AS (
           |  SELECT p_brand,
           |         CASE WHEN year(CAST(l_shipdate AS DATE)) >= 1996
           |              THEN 2 ELSE 1 END AS per,
           |         CAST(l_quantity AS BIGINT) AS q,
           |         ${centsSql("l_extendedprice")} AS c
           |  FROM lineitem JOIN part ON l_partkey = p_partkey),
           |pp AS (SELECT p_brand, per, CAST(sum(q) AS BIGINT) AS q,
           |              CAST((sum(c) * 1000) // sum(q) AS BIGINT) AS p_milli
           |       FROM base GROUP BY 1, 2 HAVING sum(q) > 0),
           |j AS (SELECT a.p_brand, a.q AS q1, a.p_milli AS p1_milli,
           |             b.q AS q2, b.p_milli AS p2_milli
           |      FROM pp a JOIN pp b ON a.p_brand = b.p_brand
           |      WHERE a.per = 1 AND b.per = 2)
           |SELECT p_brand, q1, p1_milli, q2, p2_milli,
           |       CASE WHEN p2_milli <> p1_milli THEN
           |         CAST(CASE WHEN (q2 - q1) * (p2_milli - p1_milli) >= 0
           |                   THEN 1 ELSE -1 END
           |              * CASE WHEN q2 = q1 THEN 0 ELSE
           |                  (abs(CAST(q2 - q1 AS HUGEINT)
           |                       * (p1_milli + p2_milli)) * 1000)
           |                  // abs(CAST(q1 + q2 AS HUGEINT)
           |                        * (p2_milli - p1_milli)) END AS BIGINT)
           |       END AS elasticity_milli
           |FROM j""".stripMargin)),

    QueryDef("q439_p_chart", (s, d) => {
      // Shewhart p-chart on the daily high-value event share (value >
      // 90, p ~ 0.1 over 30 days) with one PLANTED out-of-control day:
      // on 2024-01-15 the defect predicate widens to value > 70,
      // tripling that day's rate. The chart must flag exactly the
      // planted day — and the 3-sigma limits must hold the other 29
      // (the q432 positive-control pattern; every natural series here
      // is in-control noise, value-inspected).
      val ev = events(s, d).select(
        lit("events").as("grp"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        col("value"))
      Stats.pChart(
        ev.withColumn("defect",
          col("value") > 90 ||
            (col("day") === 19737L && col("value") > 70)),
        Seq("grp"), col("day"), col("defect"))
        .select(col("grp"), col("day"), col("n"), col("pos"),
          col("phat_ppm"), col("pbar_ppm"), col("ucl"), col("lcl"),
          col("out_of_control"))
    }, Some(
      """WITH base AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |         value FROM events),
        |daily AS (SELECT 'events' AS grp, day, CAST(count(*) AS BIGINT) AS n,
        |                 CAST(sum(CASE WHEN value > 90
        |                           OR (day = 19737 AND value > 70)
        |                      THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |          FROM base GROUP BY 2),
        |ctr AS (SELECT grp, CAST((sum(pos) * 1000000) // sum(n) AS BIGINT)
        |               AS pbar_ppm
        |        FROM daily GROUP BY 1)
        |SELECT d.grp, d.day, d.n, d.pos,
        |       CAST((d.pos * 1000000) // d.n AS BIGINT) AS phat_ppm,
        |       c.pbar_ppm,
        |       CAST(c.pbar_ppm AS DOUBLE) / 1000000.0
        |         + 3.0 * sqrt((CAST(c.pbar_ppm AS DOUBLE) / 1000000.0)
        |                      * (1.0 - CAST(c.pbar_ppm AS DOUBLE) / 1000000.0)
        |                      / CAST(d.n AS DOUBLE)) AS ucl,
        |       CAST(c.pbar_ppm AS DOUBLE) / 1000000.0
        |         - 3.0 * sqrt((CAST(c.pbar_ppm AS DOUBLE) / 1000000.0)
        |                      * (1.0 - CAST(c.pbar_ppm AS DOUBLE) / 1000000.0)
        |                      / CAST(d.n AS DOUBLE)) AS lcl,
        |       (CAST(d.pos AS DOUBLE) / CAST(d.n AS DOUBLE) >
        |          CAST(c.pbar_ppm AS DOUBLE) / 1000000.0
        |          + 3.0 * sqrt((CAST(c.pbar_ppm AS DOUBLE) / 1000000.0)
        |                       * (1.0 - CAST(c.pbar_ppm AS DOUBLE) / 1000000.0)
        |                       / CAST(d.n AS DOUBLE))
        |        OR CAST(d.pos AS DOUBLE) / CAST(d.n AS DOUBLE) <
        |          CAST(c.pbar_ppm AS DOUBLE) / 1000000.0
        |          - 3.0 * sqrt((CAST(c.pbar_ppm AS DOUBLE) / 1000000.0)
        |                       * (1.0 - CAST(c.pbar_ppm AS DOUBLE) / 1000000.0)
        |                       / CAST(d.n AS DOUBLE))) AS out_of_control
        |FROM daily d JOIN ctr c USING (grp)""".stripMargin)),

    QueryDef("q440_gwet_ac1", (s, d) => {
      // Gwet's AC1 beside Cohen's kappa on the same imbalanced rater
      // pair (two high-value flags at different cuts, ~90/10 skew):
      // the side-by-side is the point — on skewed marginals kappa's
      // chance term inflates while AC1 stays calibrated (the "kappa
      // paradox" every labeling-QA pipeline eventually hits).
      val ev = events(s, d).select(
        (col("value") > 90).as("a"), (col("value") > 85).as("b"))
      Inference.gwetAc1(ev, col("a"), col("b"))
        .crossJoin(broadcast(Inference.cohenKappa(ev, col("a"), col("b"))
          .select(col("po_ppm"), col("pe_ppm"), col("kappa"))))
    }, Some(
      """WITH r AS (SELECT (value > 90) AS a, (value > 85) AS b FROM events),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
        |          FROM r GROUP BY 1, 2),
        |rt AS (SELECT a AS cat, CAST(sum(c) AS BIGINT) AS row_t
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT b AS cat, CAST(sum(c) AS BIGINT) AS col_t
        |       FROM cells GROUP BY 1),
        |mg AS (SELECT coalesce(rt.cat, ct.cat) AS cat,
        |              coalesce(row_t, 0) + coalesce(col_t, 0) AS m
        |       FROM rt FULL OUTER JOIN ct ON rt.cat = ct.cat),
        |dg AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |              CAST(coalesce(sum(CASE WHEN a = b THEN c END), 0)
        |                   AS BIGINT) AS diag
        |       FROM cells),
        |pe AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |              CAST(coalesce(sum(CAST(m AS HUGEINT)
        |                                * (2 * dg.n - m)), 0) AS HUGEINT)
        |                AS pe_num
        |       FROM mg, dg),
        |prods AS (SELECT CAST(coalesce(sum(CAST(row_t AS HUGEINT) * col_t), 0)
        |                      AS HUGEINT) AS s
        |          FROM rt JOIN ct USING (cat)),
        |ac AS (SELECT dg.n, pe.k,
        |              CAST(dg.diag AS HUGEINT)
        |                * (CAST(dg.n AS HUGEINT) * dg.n * 4 * (pe.k - 1))
        |                - CAST(dg.n AS HUGEINT) * pe.pe_num AS num,
        |              CAST(dg.n AS HUGEINT)
        |                * (CAST(dg.n AS HUGEINT) * dg.n * 4 * (pe.k - 1)
        |                   - pe.pe_num) AS den
        |       FROM dg, pe)
        |SELECT ac.n, ac.k AS n_categories,
        |       CASE WHEN ac.k > 1 THEN
        |         CAST(CASE WHEN num * den >= 0 THEN 1 ELSE -1 END
        |              * (abs(num) * 1000000 // nullif(abs(den), 0))
        |              AS BIGINT)
        |       END AS ac1_ppm,
        |       CAST((CAST(dg.diag AS HUGEINT) * 1000000) // dg.n AS BIGINT)
        |         AS po_ppm,
        |       CAST((prods.s * 1000000)
        |            // (CAST(dg.n AS HUGEINT) * dg.n) AS BIGINT) AS pe_ppm,
        |       CAST(CAST(CAST(dg.n AS HUGEINT) * dg.diag - prods.s AS DOUBLE)
        |            / CAST(CAST(dg.n AS HUGEINT) * dg.n - prods.s AS DOUBLE)
        |            AS DOUBLE) AS kappa
        |FROM ac, dg, pe, prods""".stripMargin)),

    QueryDef("q441_youden_threshold", (s, d) =>
      // optimal operating point for a purchase detector: score = event
      // value milli with a PLANTED +30 separation for purchases (value
      // is independent of type in the synthetic data — value-inspected
      // — so the separation must be planted for the cut search to have
      // a true answer). The argmax threshold must land inside the
      // planted gap region with TPR - FPR well above the noise floor.
      Inference.youdenThreshold(
        events(s, d).select(
          (floor(col("value") * 1000 + 0.5).cast("long") +
            when(col("event_type") === "purchase", 30000L).otherwise(0L))
            .as("score"),
          (col("event_type") === "purchase").as("y")),
        col("score"), col("y")),
      Some(
        """WITH f AS (
          |  SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT)
          |           + CASE WHEN event_type = 'purchase' THEN 30000
          |                  ELSE 0 END AS v,
          |         (event_type = 'purchase') AS y
          |  FROM events),
          |c AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
          |             CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
          |               AS pos
          |      FROM f GROUP BY 1),
          |cm AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS nl,
          |              CAST(sum(pos) OVER (ORDER BY v) AS BIGINT) AS pl
          |       FROM c),
          |tt AS (SELECT max(nl) AS n, max(pl) AS n_pos FROM cm),
          |cd AS (SELECT v,
          |              CAST(((n_pos - pl) * 1000000) // n_pos AS BIGINT)
          |                AS tpr_ppm,
          |              CAST((((n - nl) - (n_pos - pl)) * 1000000)
          |                   // (n - n_pos) AS BIGINT) AS fpr_ppm
          |       FROM cm, tt WHERE n_pos > 0 AND n > n_pos),
          |j AS (SELECT *, tpr_ppm - fpr_ppm AS j_ppm FROM cd),
          |b AS (SELECT max(j_ppm) AS best_j_ppm FROM j),
          |bv AS (SELECT best_j_ppm, min(v) AS best_threshold
          |       FROM j, b WHERE j_ppm = best_j_ppm GROUP BY 1)
          |SELECT n, n_pos, best_threshold, tpr_ppm, fpr_ppm, best_j_ppm
          |FROM j JOIN bv ON j.v = bv.best_threshold
          |                AND j.j_ppm = bv.best_j_ppm, tt""".stripMargin)),

    QueryDef("q442_neighborhood_function", (s, d) => {
      // full HyperANF over the undirected bulk (quantity >= 48) customer-
      // supplier graph:
      // per-round HLL ball estimates est_0..est_4 and the per-node
      // effective radius (smallest r reaching 90% of the 4-hop ball) —
      // q398's one-shot register merge ITERATED, the neighborhood-
      // function recipe that never materializes multi-hop pair sets.
      // Probe panel: every 400th node id (customers and offset
      // suppliers both).
      val e0 = table(s, d, "orders")
        .join(table(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_quantity") >= 48)
        .select(col("o_custkey").cast("long").as("c"),
          (col("l_suppkey") + 1000000L).cast("long").as("sn"))
        .distinct()
      val und = e0.select(col("c").as("src"), col("sn").as("dst"))
        .unionByName(e0.select(col("sn").as("src"), col("c").as("dst")))
      graft.operators.Graph.neighborhoodFunction(und, "src", "dst",
        rounds = 4, probe = n => n % 400L === 0L)
    }, Some {
      val est = "0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)" +
        " * 256.0::DOUBLE * 256.0::DOUBLE" +
        " / (sum(CAST(1.0 AS DOUBLE) / CAST(1::BIGINT << rho AS DOUBLE))" +
        " + CAST(256 - count(*) AS DOUBLE))"
      val roundCte = (k: Int) =>
        s"""r$k AS (SELECT node, b, max(rho) AS rho FROM (
           |  SELECT node, b, rho FROM r${k - 1}
           |  UNION ALL
           |  SELECT ed.s AS node, r.b, r.rho
           |  FROM ed JOIN r${k - 1} r ON r.node = ed.t) u
           |GROUP BY 1, 2)""".stripMargin
      val estCte = (k: Int) =>
        s"""s$k AS (SELECT node, $est AS est_$k,
           |CAST(count(*) AS BIGINT) AS nb_$k
           |FROM r$k WHERE node % 400 = 0 GROUP BY 1)""".stripMargin
      s"""WITH e0 AS (SELECT DISTINCT o_custkey AS c,
         |                   l_suppkey + 1000000 AS sn
         |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |            WHERE l_quantity >= 48),
         |ed AS (SELECT c AS s, sn AS t FROM e0
         |       UNION SELECT sn, c FROM e0),
         |nn AS (SELECT DISTINCT s AS node FROM ed
         |       UNION SELECT DISTINCT t FROM ed),
         |r0 AS (SELECT node,
         |              ('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 2))::INT
         |                AS b,
         |              coalesce(nullif(strpos(lpad(bin(
         |                ('0x' || substr(md5(CAST(node AS VARCHAR)), 3, 8))
         |                  ::BIGINT), 32, '0'), '1'), 0), 33) AS rho
         |       FROM nn),
         |${roundCte(1)},
         |${roundCte(2)},
         |${roundCte(3)},
         |${roundCte(4)},
         |${estCte(0)},
         |${estCte(1)},
         |${estCte(2)},
         |${estCte(3)},
         |${estCte(4)}
         |SELECT s0.node, s0.est_0, s0.nb_0, s1.est_1, s1.nb_1,
         |       s2.est_2, s2.nb_2, s3.est_3, s3.nb_3, s4.est_4, s4.nb_4,
         |       CAST(CASE WHEN s0.nb_0 * 10 >= s4.nb_4 * 9 THEN 0
         |                 WHEN s1.nb_1 * 10 >= s4.nb_4 * 9 THEN 1
         |                 WHEN s2.nb_2 * 10 >= s4.nb_4 * 9 THEN 2
         |                 WHEN s3.nb_3 * 10 >= s4.nb_4 * 9 THEN 3
         |                 ELSE 4 END AS BIGINT) AS eff_radius
         |FROM s0 JOIN s1 USING (node) JOIN s2 USING (node)
         |        JOIN s3 USING (node) JOIN s4 USING (node)""".stripMargin
    }),

    QueryDef("q443_dispersion_index", (s, d) => {
      // Fisher's index of dispersion on daily arrival counts: the full
      // stream reads UNDERdispersed (D = 18.1 vs n-1 = 29 — a
      // fixed-ish total multinomially allocated over days is more
      // regular than Poisson; value-inspected, not flagged);
      // a PLANTED weekly-burst slice (only every-7th-day events kept,
      // zeros between — textbook clumping) must flag overdispersed.
      // The count-data twin of q439's proportion chart.
      val ev = events(s, d).select(
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      val all = ev.withColumn("grp", lit("all"))
      val burst = ev.filter(pmod(col("day"), lit(7L)) === 0L)
        .withColumn("grp", lit("weekly_burst"))
      Stats.dispersionIndex(all.unionByName(burst), Seq("grp"),
        col("day"), lit(1L))
    }, Some(
      """WITH base AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        |  FROM events),
        |rows_g AS (SELECT 'all' AS grp, day FROM base
        |           UNION ALL
        |           SELECT 'weekly_burst', day FROM base WHERE day % 7 = 0),
        |daily AS (SELECT grp, day, CAST(count(*) AS BIGINT) AS x
        |          FROM rows_g GROUP BY 1, 2),
        |gr AS (SELECT grp, min(day) AS mn, max(day) AS mx
        |       FROM daily GROUP BY 1),
        |sp AS (SELECT grp, unnest(generate_series(mn, mx)) AS day FROM gr),
        |dn AS (SELECT sp.grp, sp.day, coalesce(daily.x, 0) AS x
        |       FROM sp LEFT JOIN daily
        |         ON daily.grp = sp.grp AND daily.day = sp.day),
        |ag AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_days,
        |              CAST(sum(x) AS BIGINT) AS total,
        |              sum(CAST(x AS HUGEINT) * x) AS xx
        |       FROM dn GROUP BY 1)
        |SELECT grp, n_days, total,
        |       CAST((total * 1000) // n_days AS BIGINT) AS mean_milli,
        |       CASE WHEN total > 0 AND n_days > 1 THEN
        |         CAST(((CAST(n_days AS HUGEINT) * xx
        |                - CAST(total AS HUGEINT) * total) * 1000)
        |              // CAST(total AS HUGEINT) AS BIGINT)
        |       END AS dispersion_milli,
        |       CASE WHEN total > 0 AND n_days > 1 THEN
        |         (CAST(((CAST(n_days AS HUGEINT) * xx
        |                 - CAST(total AS HUGEINT) * total) * 1000)
        |               // CAST(total AS HUGEINT) AS DOUBLE) / 1000.0
        |          - CAST(n_days - 1 AS DOUBLE))
        |         > 3.0 * sqrt(2.0 * CAST(n_days - 1 AS DOUBLE))
        |       END AS overdispersed
        |FROM ag""".stripMargin)),

    QueryDef("q444_cliffs_delta", (s, d) => {
      // Cliff's delta beside q263's Mann-Whitney z: the raw
      // purchase-vs-view values are the honest null (delta ~ 0,
      // "negligible") and a planted +30 on the B side reads delta
      // -0.456 "medium" (negative: A beats B less often) — the
      // effect-size layer that stops a fleet from paging on
      // significant-but-tiny differences at big n.
      val e = events(s, d).filter(col("event_type").isin("view", "purchase"))
      val v = floor(col("value") * 1000 + 0.5).cast("long")
      val b = col("event_type") === "purchase"
      def lane(name: String, shift: Long) =
        Inference.cliffsDelta(
          e.select((v + when(b, shift).otherwise(0L)).as("v"), b.as("b")),
          col("v"), col("b"))
          .select(lit(name).as("variant"), col("n_a"), col("n_b"),
            col("u2_a"), col("delta_ppm"), col("magnitude"))
      lane("raw", 0L).unionByName(lane("planted", 30000L))
    }, Some(
      """WITH v_raw AS (
        |  SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v,
        |         (event_type = 'purchase') AS b
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |r_raw AS (SELECT v, sum(CASE WHEN b THEN 0 ELSE 1 END) AS cnt_a,
        |             sum(CASE WHEN b THEN 1 ELSE 0 END) AS cnt_b
        |      FROM v_raw GROUP BY v),
        |c_raw AS (SELECT v, cnt_a, cnt_b,
        |             sum(cnt_a) OVER (ORDER BY v) AS cum_a,
        |             sum(cnt_b) OVER (ORDER BY v) AS cum_b FROM r_raw),
        |a_raw AS (SELECT max(cum_a) AS n_a, max(cum_b) AS n_b,
        |             sum(CAST(cnt_a AS HUGEINT) *
        |                 ((cum_a + cum_b - cnt_a - cnt_b) * 2 + cnt_a + cnt_b + 1))
        |               AS r2_a
        |      FROM c_raw),
        |u_raw AS (SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |             CAST(r2_a - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS u2_a
        |      FROM a_raw),
        |v_planted AS (
        |  SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT) + CASE WHEN event_type = 'purchase' THEN 30000 ELSE 0 END AS v,
        |         (event_type = 'purchase') AS b
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |r_planted AS (SELECT v, sum(CASE WHEN b THEN 0 ELSE 1 END) AS cnt_a,
        |             sum(CASE WHEN b THEN 1 ELSE 0 END) AS cnt_b
        |      FROM v_planted GROUP BY v),
        |c_planted AS (SELECT v, cnt_a, cnt_b,
        |             sum(cnt_a) OVER (ORDER BY v) AS cum_a,
        |             sum(cnt_b) OVER (ORDER BY v) AS cum_b FROM r_planted),
        |a_planted AS (SELECT max(cum_a) AS n_a, max(cum_b) AS n_b,
        |             sum(CAST(cnt_a AS HUGEINT) *
        |                 ((cum_a + cum_b - cnt_a - cnt_b) * 2 + cnt_a + cnt_b + 1))
        |               AS r2_a
        |      FROM c_planted),
        |u_planted AS (SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |             CAST(r2_a - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS u2_a
        |      FROM a_planted)
        |SELECT 'raw' AS variant, n_a, n_b, u2_a,
        |       CAST(CASE WHEN u2_a - n_a * n_b >= 0 THEN 1 ELSE -1 END
        |            * ((abs(CAST(u2_a - n_a * n_b AS HUGEINT)) * 1000000)
        |               // nullif(CAST(n_a AS HUGEINT) * n_b, 0)) AS BIGINT)
        |         AS delta_ppm,
        |       CASE WHEN abs(CASE WHEN u2_a - n_a * n_b >= 0 THEN 1 ELSE -1 END
        |                 * ((abs(CAST(u2_a - n_a * n_b AS HUGEINT)) * 1000000)
        |                    // nullif(CAST(n_a AS HUGEINT) * n_b, 0)))
        |              < 147000 THEN 'negligible'
        |            WHEN abs(CASE WHEN u2_a - n_a * n_b >= 0 THEN 1 ELSE -1 END
        |                 * ((abs(CAST(u2_a - n_a * n_b AS HUGEINT)) * 1000000)
        |                    // nullif(CAST(n_a AS HUGEINT) * n_b, 0)))
        |              < 330000 THEN 'small'
        |            WHEN abs(CASE WHEN u2_a - n_a * n_b >= 0 THEN 1 ELSE -1 END
        |                 * ((abs(CAST(u2_a - n_a * n_b AS HUGEINT)) * 1000000)
        |                    // nullif(CAST(n_a AS HUGEINT) * n_b, 0)))
        |              < 474000 THEN 'medium' ELSE 'large' END AS magnitude
        |FROM u_raw
        |UNION ALL
        |SELECT 'planted' AS variant, n_a, n_b, u2_a,
        |       CAST(CASE WHEN u2_a - n_a * n_b >= 0 THEN 1 ELSE -1 END
        |            * ((abs(CAST(u2_a - n_a * n_b AS HUGEINT)) * 1000000)
        |               // nullif(CAST(n_a AS HUGEINT) * n_b, 0)) AS BIGINT)
        |         AS delta_ppm,
        |       CASE WHEN abs(CASE WHEN u2_a - n_a * n_b >= 0 THEN 1 ELSE -1 END
        |                 * ((abs(CAST(u2_a - n_a * n_b AS HUGEINT)) * 1000000)
        |                    // nullif(CAST(n_a AS HUGEINT) * n_b, 0)))
        |              < 147000 THEN 'negligible'
        |            WHEN abs(CASE WHEN u2_a - n_a * n_b >= 0 THEN 1 ELSE -1 END
        |                 * ((abs(CAST(u2_a - n_a * n_b AS HUGEINT)) * 1000000)
        |                    // nullif(CAST(n_a AS HUGEINT) * n_b, 0)))
        |              < 330000 THEN 'small'
        |            WHEN abs(CASE WHEN u2_a - n_a * n_b >= 0 THEN 1 ELSE -1 END
        |                 * ((abs(CAST(u2_a - n_a * n_b AS HUGEINT)) * 1000000)
        |                    // nullif(CAST(n_a AS HUGEINT) * n_b, 0)))
        |              < 474000 THEN 'medium' ELSE 'large' END AS magnitude
        |FROM u_planted""".stripMargin)))
}
