package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Features
import graft.sources.Sources.{events, table}
import graft.engine.Pin.PinOps

/** Round-9 feature-engineering battery: RFM segmentation, leak-free target
  * encoding, exact-arithmetic correlation profiling, and OLS trend fitting —
  * the mart-layer features a model-training pipeline derives from the same
  * star schema the reference reports on. Every value is either an exact
  * integer or ONE IEEE expression over exact integer operands, so the
  * DuckDB oracles hash-match bit-for-bit.
  */
object FeatureQueries extends QuerySet {

  /** Exact EWMA weights shared by the Spark plan and the DuckDB oracle:
    * alpha = 1/4 over 14 terms -> w_j = 3^j * 4^(13-j), denominator 4^14.
    */
  private val ewmaWeights: Seq[Long] =
    (0 until 14).map(j => math.pow(3, j).toLong * math.pow(4, 13 - j).toLong)
  private val ewmaDenom: Long = math.pow(4, 14).toLong

  /** DuckDB CTE chain deriving the q211 LPA labels (3 deterministic
    * rounds over the undirected customer–supplier graph) — shared by the
    * q211 oracle and q222's modularity evaluation of the same labels.
    * Exposes `und` (undirected distinct edges) and `l3` (node, label).
    */
  private val lpaCtesSql: String = {
    val rounds = (1 to 3).map { k =>
      s"""c$k AS (
         |  SELECT e.u AS node, l.label, count(*) AS cnt
         |  FROM ed e JOIN l${k - 1} l ON l.node = e.v
         |  GROUP BY 1, 2),
         |l$k AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |           row_number() OVER (PARTITION BY node
         |             ORDER BY cnt DESC, label ASC) AS rn
         |    FROM c$k) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""eraw AS (
       |  SELECT o_custkey AS a, l_suppkey + 1000000 AS b
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |und AS (
       |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
       |  FROM eraw WHERE a IS NOT NULL AND b IS NOT NULL AND a <> b),
       |ed AS (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
       |l0 AS (SELECT DISTINCT u AS node, u AS label FROM ed),
       |$rounds""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    QueryDef("q206_rfm_segments", (s, d) =>
      // RFM quintile segmentation via quantile BOUNDARIES (not ntile — no
      // global total order at scale, and ties never straddle buckets);
      // monetary boundaries on whole dollars to bound the quantile domain
      Features.rfm(table(s, d, "orders"), "o_custkey", "o_orderdate",
        "o_totalprice"),
      Some(
        s"""WITH pc AS (
           |  SELECT o_custkey AS custkey,
           |         max(CAST(o_orderdate AS DATE)) AS last_order,
           |         count(*) AS frequency,
           |         sum(${centsSql("o_totalprice")}) AS monetary_cents
           |  FROM orders GROUP BY 1),
           |ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_date FROM orders),
           |m AS (
           |  SELECT custkey, CAST(ref_date - last_order AS BIGINT) AS recency_days,
           |         CAST(frequency AS BIGINT) AS frequency,
           |         CAST(monetary_cents AS BIGINT) AS monetary_cents
           |  FROM pc, ref),
           |b AS (
           |  SELECT quantile_disc(-recency_days, 0.2) AS r_q200,
           |         quantile_disc(-recency_days, 0.4) AS r_q400,
           |         quantile_disc(-recency_days, 0.6) AS r_q600,
           |         quantile_disc(-recency_days, 0.8) AS r_q800,
           |         quantile_disc(frequency, 0.2) AS f_q200,
           |         quantile_disc(frequency, 0.4) AS f_q400,
           |         quantile_disc(frequency, 0.6) AS f_q600,
           |         quantile_disc(frequency, 0.8) AS f_q800,
           |         quantile_disc(monetary_cents // 100, 0.2) AS m_q200,
           |         quantile_disc(monetary_cents // 100, 0.4) AS m_q400,
           |         quantile_disc(monetary_cents // 100, 0.6) AS m_q600,
           |         quantile_disc(monetary_cents // 100, 0.8) AS m_q800
           |  FROM m),
           |sc AS (
           |  SELECT m.*,
           |         CAST(1 + (-recency_days > r_q200)::INT + (-recency_days > r_q400)::INT
           |                + (-recency_days > r_q600)::INT + (-recency_days > r_q800)::INT
           |              AS INTEGER) AS r_score,
           |         CAST(1 + (frequency > f_q200)::INT + (frequency > f_q400)::INT
           |                + (frequency > f_q600)::INT + (frequency > f_q800)::INT
           |              AS INTEGER) AS f_score,
           |         CAST(1 + (monetary_cents // 100 > m_q200)::INT
           |                + (monetary_cents // 100 > m_q400)::INT
           |                + (monetary_cents // 100 > m_q600)::INT
           |                + (monetary_cents // 100 > m_q800)::INT
           |              AS INTEGER) AS m_score
           |  FROM m, b)
           |SELECT custkey, recency_days, frequency, monetary_cents,
           |       r_score, f_score, m_score,
           |       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
           |            WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
           |            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
           |            WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
           |            ELSE 'core' END AS segment
           |FROM sc""".stripMargin)),

    QueryDef("q207_target_encoding", (s, d) =>
      // leak-free leave-one-out + smoothed (m=10) target encoding of the
      // customer nation by order value: each order's own target is
      // excluded from its encoding; singleton categories -> NULL LOO.
      // Exact integer division end to end.
      Features.targetEncode(
        table(s, d, "orders").join(table(s, d, "customer"),
          col("o_custkey") === col("c_custkey")),
        keyCol = col("o_orderkey").cast("long"),
        categoryCol = col("c_nationkey").cast("int"),
        targetCents = Features.cents(col("o_totalprice")), m = 10)
        .select(col("key").as("o_orderkey"), col("category").as("nation"),
          col("enc_loo"), col("enc_smooth")),
      Some(
        s"""WITH r AS (
           |  SELECT o_orderkey AS key, CAST(c_nationkey AS INTEGER) AS category,
           |         ${centsSql("o_totalprice")} AS t
           |  FROM orders JOIN customer ON o_custkey = c_custkey),
           |pc AS (SELECT category, sum(t) AS cat_sum, count(*) AS cat_cnt
           |       FROM r GROUP BY 1),
           |g AS (SELECT sum(t) // count(*) AS global_mean FROM r)
           |SELECT key AS o_orderkey, category AS nation,
           |       CASE WHEN cat_cnt > 1
           |            THEN CAST((cat_sum - t) // (cat_cnt - 1) AS BIGINT) END AS enc_loo,
           |       CAST((cat_sum + 10 * global_mean) // (cat_cnt + 10) AS BIGINT)
           |         AS enc_smooth
           |FROM r JOIN pc USING (category), g""".stripMargin)),

    QueryDef("q208_corr_matrix", (s, d) =>
      // pairwise Pearson correlation of the lineitem measures in ONE scan:
      // DECIMAL(38,0)-exact moment sums, one IEEE expression per pair —
      // unlike the builtin corr, identical on any engine and partitioning
      Features.corrMatrix(table(s, d, "lineitem"), Seq(
        "qty" -> Features.cents(col("l_quantity")),
        "ext" -> Features.cents(col("l_extendedprice")),
        "disc" -> Features.cents(col("l_discount")),
        "tax" -> Features.cents(col("l_tax")))),
      Some {
        val pairs = Seq("qty" -> "ext", "qty" -> "disc", "qty" -> "tax",
          "ext" -> "disc", "ext" -> "tax", "disc" -> "tax")
        val selects = pairs.map { case (x, y) =>
          s"""SELECT '$x' AS x_col, '$y' AS y_col, CAST(n AS BIGINT) AS n_rows,
             |       CAST(n*sp_${x}_$y - s_$x*s_$y AS DOUBLE)
             |         / (sqrt(CAST(n*ss_$x - s_$x*s_$x AS DOUBLE))
             |            * sqrt(CAST(n*ss_$y - s_$y*s_$y AS DOUBLE))) AS corr
             |FROM a""".stripMargin
        }
        s"""WITH q AS (
           |  SELECT ${centsSql("l_quantity")} AS qty,
           |         ${centsSql("l_extendedprice")} AS ext,
           |         ${centsSql("l_discount")} AS disc,
           |         ${centsSql("l_tax")} AS tax
           |  FROM lineitem),
           |a AS (
           |  SELECT CAST(count(*) AS HUGEINT) AS n,
           |         sum(CAST(qty AS HUGEINT)) AS s_qty,
           |         sum(CAST(ext AS HUGEINT)) AS s_ext,
           |         sum(CAST(disc AS HUGEINT)) AS s_disc,
           |         sum(CAST(tax AS HUGEINT)) AS s_tax,
           |         sum(CAST(qty*qty AS HUGEINT)) AS ss_qty,
           |         sum(CAST(ext*ext AS HUGEINT)) AS ss_ext,
           |         sum(CAST(disc*disc AS HUGEINT)) AS ss_disc,
           |         sum(CAST(tax*tax AS HUGEINT)) AS ss_tax,
           |         sum(CAST(qty*ext AS HUGEINT)) AS sp_qty_ext,
           |         sum(CAST(qty*disc AS HUGEINT)) AS sp_qty_disc,
           |         sum(CAST(qty*tax AS HUGEINT)) AS sp_qty_tax,
           |         sum(CAST(ext*disc AS HUGEINT)) AS sp_ext_disc,
           |         sum(CAST(ext*tax AS HUGEINT)) AS sp_ext_tax,
           |         sum(CAST(disc*tax AS HUGEINT)) AS sp_disc_tax
           |  FROM q)
           |${selects.mkString("\nUNION ALL\n")}""".stripMargin
      }),

    QueryDef("q209_ols_trend", (s, d) =>
      // per-event-type OLS trend over daily counts: closed-form slope and
      // intercept from exact BIGINT moment sums, each ONE IEEE division —
      // the daily-volume drift detector next to q179's CUSUM
      Features.olsTrend(
        events(s, d).groupBy(col("event_type"),
            datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("x"))
          .agg(count(lit(1)).as("y")),
        groupCols = Seq("event_type"), xCol = col("x"), yCol = col("y")),
      Some(
        """WITH dc AS (
          |  SELECT event_type,
          |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
          |         CAST(count(*) AS BIGINT) AS y
          |  FROM events GROUP BY 1, 2),
          |a AS (
          |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
          |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
          |         sum(CAST(x*x AS HUGEINT)) AS sxx, sum(CAST(x*y AS HUGEINT)) AS sxy
          |  FROM dc GROUP BY 1)
          |SELECT event_type, CAST(n AS BIGINT) AS n_points,
          |       CASE WHEN n*sxx - sx*sx <> 0
          |            THEN CAST(n*sxy - sx*sy AS DOUBLE)
          |                 / CAST(n*sxx - sx*sx AS DOUBLE) END AS slope,
          |       CASE WHEN n*sxx - sx*sx <> 0
          |            THEN CAST(sy*sxx - sx*sxy AS DOUBLE)
          |                 / CAST(n*sxx - sx*sx AS DOUBLE) END AS intercept
          |FROM a""".stripMargin)),

    QueryDef("q210_ewma_daily", (s, d) =>
      // exact-integer truncated EWMA (alpha=1/4, 14 terms) of daily event
      // volume per type: missing days densified to zero, every weight an
      // exact BIGINT over the shared 4^14 denominator — the smoothed
      // volume baseline next to q209's linear trend
      graft.pipeline.Stats.ewmaDaily(events(s, d), Seq("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
        lit(1L), alphaNum = 1, alphaDen = 4, lookback = 14),
      Some {
        val values = ewmaWeights.zipWithIndex
          .map { case (w, j) => s"($j, ${w}::BIGINT)" }.mkString(", ")
        s"""WITH dc AS (
           |  SELECT event_type,
           |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
           |         CAST(count(*) AS BIGINT) AS y
           |  FROM events GROUP BY 1, 2),
           |g AS (SELECT event_type, min(day) AS mn, max(day) AS mx
           |      FROM dc GROUP BY 1),
           |sp AS (SELECT event_type, unnest(generate_series(mn, mx)) AS day_idx
           |       FROM g),
           |w(j, wt) AS (VALUES $values),
           |f AS (SELECT s.event_type, s.day_idx, w.wt, s.day_idx - w.j AS day
           |      FROM sp s, w),
           |e AS (SELECT f.event_type, f.day_idx,
           |             sum(f.wt * coalesce(dc.y, 0)) AS num
           |      FROM f LEFT JOIN dc
           |        ON dc.event_type = f.event_type AND dc.day = f.day
           |      GROUP BY 1, 2)
           |SELECT event_type, CAST(day_idx AS BIGINT) AS day_idx,
           |       CAST(num AS BIGINT) AS ewma_num,
           |       CAST(num * 1000 // ${ewmaDenom} AS BIGINT) AS ewma_milli
           |FROM e""".stripMargin
      }),

    QueryDef("q211_lpa_communities", (s, d) =>
      // deterministic synchronous label propagation (3 rounds, min-label
      // tie-break) over the q140 customer–supplier graph, undirected —
      // the community detector next to connected components (which LPA
      // refines: a component can hold several dense communities)
      graft.operators.Graph.labelPropagation(
        table(s, d, "orders").join(table(s, d, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("src_id"),
            (col("l_suppkey") + lit(1000000)).as("dst_id")),
        aCol = "src_id", bCol = "dst_id", rounds = 3)
        .select(col("node").cast("long").as("node_id"),
          col("label").cast("long").as("label")),
      Some(
        s"""WITH $lpaCtesSql
           |SELECT CAST(node AS BIGINT) AS node_id, CAST(label AS BIGINT) AS label
           |FROM l3""".stripMargin)),

    QueryDef("q212_session_stats", (s, d) =>
      // entry / exit / bounce counts per event type over 30-min-gap
      // sessions (q195's sessionization, rolled to the landing-page
      // report): a type that only ever closes sessions still reports its
      // zero entries via the full-outer spine
      graft.operators.EventAnalytics.sessionStats(events(s, d),
        gapMinutes = 30),
      Some(
        """WITH g AS (
          |  SELECT user_id, event_id, event_type, ts,
          |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
          |                (PARTITION BY user_id ORDER BY ts, event_id)
          |              > 30 * 60000000 THEN 1
          |              WHEN lag(ts) OVER
          |                (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
          |              ELSE 0 END AS new_sess
          |  FROM events),
          |se AS (
          |  SELECT *, sum(new_sess) OVER
          |           (PARTITION BY user_id ORDER BY ts, event_id
          |            ROWS UNBOUNDED PRECEDING) AS sess
          |  FROM g),
          |st AS (
          |  SELECT *,
          |         row_number() OVER (PARTITION BY user_id, sess
          |           ORDER BY ts, event_id) AS rf,
          |         row_number() OVER (PARTITION BY user_id, sess
          |           ORDER BY ts DESC, event_id DESC) AS rl,
          |         count(*) OVER (PARTITION BY user_id, sess) AS n_events
          |  FROM se),
          |ps AS (
          |  SELECT user_id, sess,
          |         max(CASE WHEN rf = 1 THEN event_type END) AS first_type,
          |         max(CASE WHEN rl = 1 THEN event_type END) AS last_type,
          |         max(n_events) AS n_events
          |  FROM st GROUP BY 1, 2),
          |en AS (SELECT first_type AS event_type, count(*) AS n FROM ps GROUP BY 1),
          |ex AS (SELECT last_type AS event_type, count(*) AS n FROM ps GROUP BY 1),
          |bo AS (SELECT first_type AS event_type, count(*) AS n FROM ps
          |       WHERE n_events = 1 GROUP BY 1)
          |SELECT coalesce(en.event_type, ex.event_type, bo.event_type) AS event_type,
          |       CAST(coalesce(en.n, 0) AS BIGINT) AS n_entries,
          |       CAST(coalesce(ex.n, 0) AS BIGINT) AS n_exits,
          |       CAST(coalesce(bo.n, 0) AS BIGINT) AS n_bounces
          |FROM en
          |FULL OUTER JOIN ex ON en.event_type = ex.event_type
          |FULL OUTER JOIN bo
          |  ON coalesce(en.event_type, ex.event_type) = bo.event_type""".stripMargin)),

    QueryDef("q213_vocab_coverage", (s, d) => {
      // tokenizer-vocabulary design curve: top-200 tokens by corpus
      // frequency with cumulative coverage ppm — "how much of the corpus
      // do the first N vocab entries absorb". Top-k via orderBy+limit
      // (TakeOrdered: per-partition heads + k-row merge, no global sort);
      // the rank/cumsum window runs over the BOUNDED 200-row result only
      // (the q169 discipline).
      import graft.pipeline.TextAnalysis
      val counts = table(s, d, "documents").filter(col("text").isNotNull)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("tot"))
      val top = counts.orderBy(col("cnt").desc, col("token").asc).limit(200)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("token").asc)
      top.crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("cum_cover_ppm",
          expr("sum(cnt) OVER (ORDER BY cnt DESC, token ASC" +
            " ROWS UNBOUNDED PRECEDING) * 1000000 div tot"))
        .select(col("rank"), col("token"), col("cnt"), col("cum_cover_ppm"))
    }, Some(
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
        |            FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
        |t AS (SELECT sum(cnt) AS tot FROM c),
        |r AS (SELECT token, cnt,
        |             row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
        |      FROM c),
        |top AS (SELECT * FROM r WHERE rank <= 200)
        |SELECT CAST(rank AS BIGINT) AS rank, token, cnt,
        |       CAST(sum(cnt) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING)
        |            * 1000000 // tot AS BIGINT) AS cum_cover_ppm
        |FROM top, t""".stripMargin)),

    QueryDef("q214_lexical_profile", (s, d) => {
      // corpus lexical health in one row: token/type counts, hapax and
      // dis legomena, type-token ratio — the Zipf-tail profile that says
      // whether a corpus is natural text or template spam. Pure
      // composition: one token rollup, one global agg.
      import graft.pipeline.TextAnalysis
      table(s, d, "documents").filter(col("text").isNotNull)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"),
          sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("n_dis"))
        .withColumn("ttr_ppm", expr("n_types * 1000000 div n_tokens"))
        .withColumn("hapax_type_ppm", expr("n_hapax * 1000000 div n_types"))
    }, Some(
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
        |            FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1)
        |SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS n_types,
        |       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |       CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis,
        |       CAST(count(*) * 1000000 // sum(cnt) AS BIGINT) AS ttr_ppm,
        |       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
        |            AS BIGINT) AS hapax_type_ppm
        |FROM c""".stripMargin)),

    QueryDef("q215_jaro_winkler", (s, d) => {
      // fuzzy probe match via the codegen'd JaroWinkler expression (Spark
      // has no string-similarity builtin beyond levenshtein): every 500th
      // part name, 4th char redacted, matched back against the catalog at
      // >= 0.85 — the typo-tolerant lookup FuzzyLink does at scale, here
      // exercising the expression's exact DuckDB-parity semantics (the
      // kernel is bit-identical, so even the raw DOUBLE hash-compares)
      // JaroWinklerLengthPrune (installed by GraftSession): the >= 0.85
      // threshold implies a length-ratio bound the optimizer injects as a
      // pre-kernel check
      val probes = table(s, d, "part")
        .filter(pmod(col("p_partkey"), lit(500)) === 0)
        .select(col("p_partkey").as("probe_key"),
          concat(substring(col("p_name"), 1, 3), lit("x"),
            expr("substring(p_name, 5)")).as("probe_name"))
      val sim = graft.plans.Expressions.jaroWinkler(
        col("probe_name"), col("p_name"))
      table(s, d, "part").crossJoin(broadcast(probes))
        .select(col("probe_key"), col("p_partkey").as("match_key"), sim.as("jw"))
        .filter(col("jw") >= 0.85)
        .withColumn("jw_milli", floor(col("jw") * 1000 + 0.5).cast("long"))
        .drop("jw")
    }, Some(
      """WITH pr AS (
        |  SELECT p_partkey AS probe_key,
        |         substr(p_name, 1, 3) || 'x' || substr(p_name, 5) AS probe_name
        |  FROM part WHERE p_partkey % 500 = 0)
        |SELECT pr.probe_key, p.p_partkey AS match_key,
        |       CAST(floor(jaro_winkler_similarity(pr.probe_name, p.p_name) * 1000
        |                  + 0.5) AS BIGINT) AS jw_milli
        |FROM pr, part p
        |WHERE jaro_winkler_similarity(pr.probe_name, p.p_name) >= 0.85""".stripMargin)),

    QueryDef("q216_winsorize", (s, d) =>
      // per-returnflag winsorized revenue: extendedprice cents clipped to
      // the group's exact [p05, p95] rank-cut fences, then the rollup an
      // outlier can no longer own; clip counts audit the tail mass
      graft.pipeline.Stats.winsorize(table(s, d, "lineitem"),
        Seq("l_returnflag"), Features.cents(col("l_extendedprice")),
        loMille = 50, hiMille = 950)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("clipped")).as("sum_clipped_cents"),
          sum(when(col("clip_dir") === -1, 1L).otherwise(0L)).as("n_clip_low"),
          sum(when(col("clip_dir") === 1, 1L).otherwise(0L)).as("n_clip_high")),
      Some(
        s"""WITH v AS (
           |  SELECT l_returnflag, ${centsSql("l_extendedprice")} AS c
           |  FROM lineitem),
           |f AS (
           |  SELECT l_returnflag, quantile_disc(c, 0.05) AS lo,
           |         quantile_disc(c, 0.95) AS hi
           |  FROM v GROUP BY 1)
           |SELECT v.l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum(greatest(lo, least(hi, c))) AS BIGINT) AS sum_clipped_cents,
           |       CAST(sum(CASE WHEN c < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
           |       CAST(sum(CASE WHEN c > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high
           |FROM v JOIN f USING (l_returnflag)
           |GROUP BY 1""".stripMargin)),

    QueryDef("q217_kneser_ney", (s, d) =>
      // interpolated Kneser-Ney bigram LM (D = 3/4) in exact integer
      // arithmetic — the continuation-count smoothing that beats q168's
      // add-1 on novel contexts, hash-comparable because the rational
      // discount keeps every probability a BIGINT ppm
      graft.pipeline.TextAnalysis.kneserNeyBigrams(
        table(s, d, "documents"), minCount = 5L),
      Some(
        """WITH base AS (
          |  SELECT string_split(text, ' ') AS tk
          |  FROM documents WHERE text IS NOT NULL),
          |bi AS (
          |  SELECT unnest(CASE WHEN len(tk) >= 2
          |           THEN list_transform(generate_series(1, len(tk) - 1),
          |                  i -> tk[i] || ' ' || tk[i + 1])
          |           ELSE [] END) AS g
          |  FROM base),
          |sp AS (SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
          |       FROM bi),
          |ty AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
          |       FROM sp GROUP BY 1, 2),
          |b1 AS (SELECT w1, sum(c) AS cw1, count(*) AS n1r FROM ty GROUP BY 1),
          |b2 AS (SELECT w2, count(*) AS n1l FROM ty GROUP BY 1),
          |nb AS (SELECT count(*) AS nb FROM ty)
          |SELECT w1, w2, c,
          |       CAST((1000000 * (greatest(4*c - 3, 0) * nb + 3 * n1r * n1l))
          |            // (4 * cw1 * nb) AS BIGINT) AS p_ppm
          |FROM ty JOIN b1 USING (w1) JOIN b2 USING (w2), nb
          |WHERE c >= 5""".stripMargin)),

    QueryDef("q218_readability", (s, d) => {
      // Flesch reading-ease per document in exact integer milli-points
      // (vowel-group syllables, [.!?]-segment sentences) — the classic
      // readability gate beside the Gopher stats, zero shuffles
      import graft.pipeline.{TextAnalysis => T}
      table(s, d, "documents").filter(col("text").isNotNull)
        .select(col("doc_id").cast("long").as("doc_id"),
          T.nWords(col("text")).as("n_words"),
          T.nSentences(col("text")).as("n_sents"),
          T.nSyllables(col("text")).as("n_syll"))
        .filter(col("n_words") > 0)
        .withColumn("flesch_milli",
          T.fleschMilli(col("n_words"), col("n_sents"), col("n_syll")))
    }, Some(
      """WITH s AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |         CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0))
        |              AS BIGINT) AS n_words,
        |         CAST(greatest(len(list_filter(
        |                regexp_split_to_array(text, '[.!?]+'),
        |                x -> trim(x) <> '')), 1) AS BIGINT) AS n_sents,
        |         CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
        |              AS BIGINT) AS n_syll
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, n_words, n_sents, n_syll,
        |       CAST(206835 - (1015 * n_words) // n_sents
        |                   - (84600 * n_syll) // n_words AS BIGINT) AS flesch_milli
        |FROM s WHERE n_words > 0""".stripMargin)),

    QueryDef("q219_compress_ratio", (s, d) =>
      // DEFLATE compression-ratio spam signal (Gopher-family): template
      // and boilerplate text compresses far below natural prose. No SQL
      // engine exposes deflate -> no DuckDB oracle (driver rows-only
      // check); FeatureSpec pins determinism, monotonicity on repetitive
      // input, and the ratio arithmetic instead.
      table(s, d, "documents").filter(col("text").isNotNull)
        .select(col("doc_id").cast("long").as("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          graft.plans.Expressions.deflateLength(col("text")).as("deflate_bytes"))
        .filter(col("n_bytes") > 0)
        .withColumn("ratio_ppm",
          expr("deflate_bytes * 1000000 div n_bytes"))
        .withColumn("is_repetitive", col("ratio_ppm") < 300000L),
      None),

    QueryDef("q219b_compress_ratio_inputs", (s, d) =>
      // q219's ORACLE SIBLING: every deflate-INDEPENDENT column of the
      // compress-ratio signal under the exact same row population —
      // doc_id, the UTF-8 byte length that is q219's ratio denominator,
      // and the deflate-free repetition proxy (distinct-token share in
      // ppm) the spam gate pairs with. With this row green, the single
      // un-oracled quantity in the battery shrinks to exactly q219's
      // deflate byte count (which PropertySpec cross-checks against
      // java.util.zip) and nothing else rides along unchecked.
      {
        import graft.pipeline.{TextAnalysis => T}
        table(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id").cast("long").as("doc_id"),
            octet_length(col("text")).cast("long").as("n_bytes"),
            T.tokens(col("text")).as("__tk"))
          .filter(col("n_bytes") > 0)
          .withColumn("n_tokens", size(col("__tk")).cast("long"))
          .withColumn("n_distinct_tokens",
            size(array_distinct(col("__tk"))).cast("long"))
          .withColumn("distinct_token_ppm",
            when(col("n_tokens") > 0,
              expr("n_distinct_tokens * 1000000 div n_tokens"))
              .otherwise(lit(null).cast("long")))
          .select(col("doc_id"), col("n_bytes"), col("n_tokens"),
            col("n_distinct_tokens"), col("distinct_token_ppm"))
      },
      Some(
        """WITH s AS (
          |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
          |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          |         string_split(text, ' ') AS tk
          |  FROM documents WHERE text IS NOT NULL)
          |SELECT doc_id, n_bytes,
          |       CAST(len(tk) AS BIGINT) AS n_tokens,
          |       CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct_tokens,
          |       CASE WHEN len(tk) > 0
          |            THEN CAST((CAST(len(list_distinct(tk)) AS BIGINT) * 1000000)
          |                      // len(tk) AS BIGINT)
          |       END AS distinct_token_ppm
          |FROM s WHERE n_bytes > 0""".stripMargin)),

    QueryDef("q220_heavy_hitters", (s, d) =>
      // exact frequent tokens (support > 1/200) via the Misra-Gries
      // prefilter: the full vocab NEVER shuffles — candidates come from
      // bounded per-partition summaries merged on the driver (no false
      // negatives by the mergeable-summaries guarantee), then ONE
      // candidate-filtered exact count. Oracle is the plain exact
      // threshold query: the prefilter must be invisible to correctness.
      graft.operators.HeavyHitters.frequentItems(
        table(s, d, "documents").filter(col("text").isNotNull)
          .select(explode(graft.pipeline.TextAnalysis.tokens(col("text")))
            .as("token")),
        col("token"), k = 200),
      Some(
        """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS item
          |            FROM documents WHERE text IS NOT NULL),
          |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok)
          |SELECT item, CAST(count(*) AS BIGINT) AS cnt, max(total) AS total
          |FROM tok, t GROUP BY item
          |HAVING count(*) * 200 > max(total)""".stripMargin)),

    QueryDef("q221_collocation_lift", (s, d) =>
      // collocation detection by exact-integer LIFT over the bigram
      // space: lift = c(w1,w2)·N2 / (c_left(w1)·c_right(w2)), milli-scaled
      // by integer div — the log-free PMI ordering (log PMI is a
      // monotone transform of lift, so the ranking is identical and the
      // arithmetic stays hash-comparable)
      {
        import graft.pipeline.{TextAnalysis => T}
        // tokenize is CPU-bound — spread the single-split corpus scan
        // (Sources.fanOut scaladoc; measured 2.9 -> 1.1 s)
        val bi = graft.sources.Sources.fanOut(table(s, d, "documents"))
          .filter(col("text").isNotNull)
          .select(explode(T.bigramPairs(T.tokens(col("text")))).as("p"))
          .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        // pin: pairs feeds left/right/n2/final — without it the raw-text
        // explode+rollup recomputes per subtree (q217's pattern)
        val pairs = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
          .pinLazy()
        val left = pairs.groupBy(col("w1")).agg(sum(col("c")).as("cl"))
        val right = pairs.groupBy(col("w2")).agg(sum(col("c")).as("cr"))
        val n2 = pairs.agg(sum(col("c")).as("n2"))
        pairs.join(left, Seq("w1")).join(right, Seq("w2"))
          .crossJoin(broadcast(n2))
          .filter(col("c") >= 5)
          .withColumn("lift_milli", expr("(1000 * c * n2) div (cl * cr)"))
          .select(col("w1"), col("w2"), col("c"), col("lift_milli"))
      },
      Some(
        """WITH base AS (
          |  SELECT string_split(text, ' ') AS tk
          |  FROM documents WHERE text IS NOT NULL),
          |bi AS (
          |  SELECT unnest(CASE WHEN len(tk) >= 2
          |           THEN list_transform(generate_series(1, len(tk) - 1),
          |                  i -> tk[i] || ' ' || tk[i + 1])
          |           ELSE [] END) AS g
          |  FROM base),
          |sp AS (SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
          |       FROM bi),
          |p AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM sp GROUP BY 1, 2),
          |l AS (SELECT w1, sum(c) AS cl FROM p GROUP BY 1),
          |r AS (SELECT w2, sum(c) AS cr FROM p GROUP BY 1),
          |n AS (SELECT sum(c) AS n2 FROM p)
          |SELECT w1, w2, c,
          |       CAST((1000 * c * n2) // (cl * cr) AS BIGINT) AS lift_milli
          |FROM p JOIN l USING (w1) JOIN r USING (w2), n
          |WHERE c >= 5""".stripMargin)),

    QueryDef("q316_assortativity", (s, d) => {
      // degree assortativity of the q222 customer-supplier graph (Newman
      // 2002): one number saying whether high-degree nodes attach to each
      // other (positive) or to leaves (negative — the expected regime for
      // a bipartite commerce graph). Exact DECIMAL moments, one IEEE
      // division at the end (the kappa convention for signed statistics)
      val edges = table(s, d, "orders").join(table(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src_id"),
          (col("l_suppkey") + lit(1000000)).as("dst_id"))
      graft.operators.Graph.degreeAssortativity(edges, "src_id", "dst_id")
    }, Some(
      """WITH raw AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS s,
        |         CAST(l_suppkey + 1000000 AS BIGINT) AS t
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
        |      FROM raw WHERE s <> t),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        |        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) t
        |        GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |             sum(CAST(da.deg AS HUGEINT) * db.deg) AS a,
        |             sum(CAST(da.deg AS HUGEINT) + db.deg) AS b,
        |             sum(CAST(da.deg AS HUGEINT) * da.deg
        |                 + CAST(db.deg AS HUGEINT) * db.deg) AS c
        |      FROM e JOIN deg da ON e.u = da.node JOIN deg db ON e.v = db.node),
        |x AS (SELECT n_edges,
        |             CAST(4 * CAST(n_edges AS HUGEINT) * a - b * b AS DOUBLE) AS num_x,
        |             CAST(2 * CAST(n_edges AS HUGEINT) * c - b * b AS DOUBLE) AS den_x
        |      FROM m)
        |SELECT n_edges, num_x, den_x,
        |       CASE WHEN den_x <> 0 THEN num_x / den_x END AS assortativity
        |FROM x""".stripMargin)),

    QueryDef("q222_modularity", (s, d) => {
      // exact-integer Newman modularity of the q211 LPA communities:
      // per community q_scaled = 4·m·in_c - deg_c^2 (common denominator
      // 4m^2) — the clustering-quality gate that says whether label
      // propagation found structure or noise
      val edges = table(s, d, "orders").join(table(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src_id"),
          (col("l_suppkey") + lit(1000000)).as("dst_id"))
      // normalize + checkpoint ONCE; LPA and modularity share the graph
      val und = graft.operators.Graph.undirectedEdges(edges, "src_id", "dst_id")
        .pinEager()
      val labels = graft.operators.Graph.labelPropagationUndirected(und, rounds = 3)
      graft.operators.Graph.modularityScaledUndirected(und, labels)
        .select(col("label").cast("long").as("label"), col("n_nodes"),
          col("in_edges"), col("deg_sum"), col("q_scaled"))
    }, Some(
      s"""WITH $lpaCtesSql,
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
         |internal AS (
         |  SELECT la.label, CAST(count(*) AS BIGINT) AS in_edges
         |  FROM und e JOIN l3 la ON la.node = e.u JOIN l3 lb ON lb.node = e.v
         |  WHERE la.label = lb.label GROUP BY 1),
         |deg AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS d
         |  FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und) t
         |  GROUP BY 1),
         |cs AS (
         |  SELECT l3.label, CAST(count(*) AS BIGINT) AS n_nodes,
         |         CAST(sum(coalesce(deg.d, 0)) AS BIGINT) AS deg_sum
         |  FROM l3 LEFT JOIN deg USING (node) GROUP BY 1)
         |SELECT CAST(cs.label AS BIGINT) AS label, cs.n_nodes,
         |       coalesce(internal.in_edges, 0) AS in_edges, cs.deg_sum,
         |       CAST(4 * m.m * coalesce(internal.in_edges, 0)
         |            - cs.deg_sum * cs.deg_sum AS BIGINT) AS q_scaled
         |FROM cs LEFT JOIN internal USING (label), m""".stripMargin)),

    QueryDef("q223_dbt_utils_tests", (s, d) => {
      // the dbt_utils generic-test battery the reference's package pin
      // implies: accepted_range, not_null_proportion, equal_rowcount,
      // fewer_rows_than — four 1-row reports unioned into one DQ result
      // (each an O(scan) agg; nothing shuffles beyond 1-row rollups)
      import graft.operators.GenericTests
      val orders = table(s, d, "orders")
      val customer = table(s, d, "customer")
      GenericTests.acceptedRange(orders,
          Features.cents(col("o_totalprice")), 0L, 60000000L, "orders_price_range")
        .unionByName(GenericTests.notNullProportion(orders,
          col("o_orderpriority"), 990000L, "orders_priority_not_null"))
        .unionByName(GenericTests.rowcountCompare(orders, orders, "=",
          "orders_equal_rowcount"))
        .unionByName(GenericTests.rowcountCompare(customer, orders, "<",
          "customer_fewer_rows"))
    }, Some(
      s"""SELECT 'orders_price_range' AS "check",
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(CASE WHEN ${centsSql("o_totalprice")} < 0
         |                      OR ${centsSql("o_totalprice")} > 60000000
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS metric,
         |       sum(CASE WHEN ${centsSql("o_totalprice")} < 0
         |                 OR ${centsSql("o_totalprice")} > 60000000
         |                THEN 1 ELSE 0 END) = 0 AS pass
         |FROM orders
         |UNION ALL
         |SELECT 'orders_priority_not_null', CAST(count(*) AS BIGINT),
         |       CAST(sum(CASE WHEN o_orderpriority IS NOT NULL THEN 1 ELSE 0 END)
         |              * 1000000 // count(*) AS BIGINT),
         |       sum(CASE WHEN o_orderpriority IS NOT NULL THEN 1 ELSE 0 END)
         |         * 1000000 // count(*) >= 990000
         |FROM orders
         |UNION ALL
         |SELECT 'orders_equal_rowcount', CAST(count(*) AS BIGINT),
         |       CAST(count(*) AS BIGINT), true
         |FROM orders
         |UNION ALL
         |SELECT 'customer_fewer_rows',
         |       CAST((SELECT count(*) FROM customer) AS BIGINT),
         |       CAST(count(*) AS BIGINT),
         |       (SELECT count(*) FROM customer) < count(*)
         |FROM orders""".stripMargin)),

    QueryDef("q224_langid_confusion", (s, d) => {
      // language-ID quality evaluation: confusion matrix of the declared
      // `lang` column vs q31's marker classifier, with each cell's share
      // of its declared row in exact ppm — the "is the metadata or the
      // classifier lying" audit every multilingual corpus needs before
      // lang-filtering throws data away. One narrow classify pass + one
      // (declared, guessed) rollup.
      import graft.pipeline.{TextAnalysis => T}
      val cls = table(s, d, "documents")
        .select(col("lang").as("declared_lang"),
          T.langGuess(col("text"), PipelineQueries.Markers).as("guessed_lang"))
      val cells = cls.groupBy(col("declared_lang"), col("guessed_lang"))
        .agg(count(lit(1)).as("n_docs"))
      val rowTotals = cells.groupBy(col("declared_lang"))
        .agg(sum(col("n_docs")).as("__tot"))
      cells.join(broadcast(rowTotals), Seq("declared_lang"))
        .withColumn("share_ppm", expr("n_docs * 1000000 div __tot"))
        .drop("__tot")
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
         |  SELECT lang AS declared_lang,
         |       CASE $cases
         |            ELSE 'und' END AS guessed_lang
         |  FROM documents),
         |cells AS (
         |  SELECT declared_lang, guessed_lang, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM g GROUP BY 1, 2),
         |tot AS (SELECT declared_lang, sum(n_docs) AS t FROM cells GROUP BY 1)
         |SELECT declared_lang, guessed_lang, n_docs,
         |       CAST(n_docs * 1000000 // t AS BIGINT) AS share_ppm
         |FROM cells JOIN tot USING (declared_lang)""".stripMargin
    }),

    QueryDef("q225_mp4_metadata", (s, d) => {
      // REAL ISO BMFF (MP4) container parsing — the box grammar needs no
      // codec, so the metadata layer (brand, mvhd timescale/duration,
      // per-trak 16.16 dimensions) is genuinely decoded while frame
      // DECODE stays stubbed (no H.264 codec in the JDK, documented).
      // Per doc a minimal valid MP4 is assembled from doc_id arithmetic,
      // parsed back via the box walk, and the oracle re-derives every
      // field. Timescales are multiples of 1000 so duration_ms
      // roundtrips exactly.
      implicit val sp: org.apache.spark.sql.SparkSession = s
      import sp.implicits._
      import graft.pipeline.Multimodal
      val vids = table(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id")).as[Long]
        .mapPartitions(ids => ids.map { id =>
          val ts = Seq(1000L, 48000L, 90000L)((id % 3).toInt)
          val durMs = id % 100000 + 500
          val w = (320 + (id % 8) * 16).toInt
          val h = (240 + (id % 5) * 16).toInt
          val tracks = if (id % 2 == 1) Seq((w, h), (0, 0)) else Seq((w, h))
          (id, Multimodal.encodeMp4(durMs, ts, tracks))
        }).toDF("doc_id", "media")
      Multimodal.parseMp4All(vids).toDF()
    }, Some(
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       'isom' AS brand,
        |       CAST(CASE doc_id % 3 WHEN 0 THEN 1000 WHEN 1 THEN 48000
        |            ELSE 90000 END AS BIGINT) AS timescale,
        |       CAST(doc_id % 100000 + 500 AS BIGINT) AS duration_ms,
        |       CAST(1 + doc_id % 2 AS INTEGER) AS n_tracks,
        |       CAST(320 + (doc_id % 8) * 16 AS INTEGER) AS width,
        |       CAST(240 + (doc_id % 5) * 16 AS INTEGER) AS height
        |FROM documents""".stripMargin)),

    QueryDef("q226_webm_metadata", (s, d) => {
      // REAL WebM/Matroska EBML parsing — varint IDs/sizes, DocType,
      // TimestampScale, the float Duration element, per-TrackEntry video
      // dimensions — q225's sibling for the other container family the
      // builder brief names. Frame decode stays stubbed (no VP8/VP9 in
      // the JDK); the EBML grammar walk is real and spec-pinned.
      implicit val sp: org.apache.spark.sql.SparkSession = s
      import sp.implicits._
      import graft.pipeline.Multimodal
      val vids = table(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id")).as[Long]
        .mapPartitions(ids => ids.map { id =>
          val durMs = id % 90000 + 1000
          val tracks = ((640 + (id % 4) * 32).toInt, (360 + (id % 3) * 24).toInt) ::
            (if (id % 3 == 0) List((320, 180)) else Nil)
          (id, Multimodal.encodeWebm(durMs, tracks))
        }).toDF("doc_id", "media")
      Multimodal.parseWebmAll(vids).toDF()
    }, Some(
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       'webm' AS doc_type,
        |       CAST(1000000 AS BIGINT) AS timescale_ns,
        |       CAST(doc_id % 90000 + 1000 AS BIGINT) AS duration_ms,
        |       CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INTEGER)
        |         AS n_video_tracks,
        |       CAST(640 + (doc_id % 4) * 32 AS INTEGER) AS width,
        |       CAST(360 + (doc_id % 3) * 24 AS INTEGER) AS height
        |FROM documents""".stripMargin)),

    QueryDef("q227_state_slim_ci", (s, d) => {
      // dbt slim CI end to end: run 1 builds the DAG and saves its
      // manifest; the "CI" run registers a CHANGED mart (fingerprint
      // bumped, logic changed), loads the manifest, and runs
      // `state:modified+` — ONLY the changed mart and its descendant
      // rebuild, deferring to run 1's staging even though the source has
      // refreshed underneath (a wrongly re-run staging would pull the
      // full orders table and hash-mismatch every total). The audit
      // table proves the build counts: stg once, marts twice.
      import graft.engine.{Model, Registry, TableMat}
      implicit val sp: org.apache.spark.sql.SparkSession = s
      import sp.implicits._
      val wh = Scratch.warehouse("q227", d, s,
        Seq("stg_orders", "mart_totals", "mart_roll", "ci_audit"))
      val manifest = s"${wh.root}/state_manifest.tsv"
      def audited(name: String): Seq[graft.engine.Hook.Hook] =
        Seq(ctx => ctx.wh.append("ci_audit", Seq((name, 1L)).toDF("model", "n")))
      def dag(reg: Registry, martFp: String): Registry = {
        reg.register(Model("stg_orders", Seq("orders_src"), TableMat(),
          ctx => ctx.ref("orders_src").select(
            col("o_orderkey").cast("long").as("id"),
            col("o_custkey").cast("long").as("member_id"),
            Features.cents(col("o_totalprice")).as("cents")),
          postHooks = audited("stg_orders")))
        reg.register(Model("mart_totals", Seq("stg_orders"), TableMat(),
          ctx => {
            val base = ctx.ref("stg_orders")
            // v2 adds the big-ticket filter — THE definition change
            val rows = if (martFp == "v2") base.filter(col("cents") > 15000000L)
              else base
            rows.groupBy(col("member_id"))
              .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
          },
          postHooks = audited("mart_totals"), fingerprint = Some(martFp)))
        reg.register(Model("mart_roll", Seq("mart_totals"), TableMat(),
          ctx => ctx.ref("mart_totals").agg(
            count(lit(1)).as("n_members"),
            sum(col("n_orders")).as("n_orders"),
            sum(col("cents")).as("total_cents")),
          postHooks = audited("mart_roll")))
        reg
      }
      val reg1 = dag(new Registry(s, wh), "v1")
      reg1.source("orders_src", table(s, d, "orders")
        .filter(col("o_orderdate") < lit("1997-01-01").cast("date")))
      reg1.run()
      reg1.writeManifest(manifest)
      // CI run: source refreshed, mart logic changed, slim selection
      val reg2 = dag(new Registry(s, wh), "v2")
      reg2.source("orders_src", table(s, d, "orders"))
      reg2.withState(manifest)
      reg2.run(selector = "state:modified+")
      val builds = wh.read("ci_audit").groupBy(col("model"))
        .agg(count(lit(1)).as("n_builds"))
      wh.read("mart_roll").crossJoin(broadcast(
        builds.agg(
          max(when(col("model") === "stg_orders", col("n_builds"))).as("stg_builds"),
          max(when(col("model") === "mart_totals", col("n_builds"))).as("mart_builds"))))
    }, Some(
      """WITH stg AS (
        |  SELECT o_custkey AS member_id,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderdate < DATE '1997-01-01'),
        |mt AS (
        |  SELECT member_id, count(*) AS n_orders, sum(cents) AS cents
        |  FROM stg WHERE cents > 15000000 GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_members,
        |       CAST(sum(n_orders) AS BIGINT) AS n_orders,
        |       CAST(sum(cents) AS BIGINT) AS total_cents,
        |       CAST(1 AS BIGINT) AS stg_builds,
        |       CAST(2 AS BIGINT) AS mart_builds
        |FROM mt""".stripMargin)),

    QueryDef("q228_categorical_drift", (s, d) => {
      // distribution-drift monitor: total-variation distance between the
      // live orders table and a deterministically-perturbed "refresh"
      // (the q202 fixture family) per monitored column, in exact ppm —
      // priority drifts (redactions + dropped rows), status barely moves.
      // The log-free, hash-comparable alternative to PSI.
      val o = table(s, d, "orders")
      val b = o.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
        .withColumn("o_orderpriority", when(pmod(col("o_orderkey"), lit(89)) === 0,
          lit("0-REDACTED")).otherwise(col("o_orderpriority")))
      graft.operators.GenericTests.categoricalDrift(o, b,
        Seq("o_orderpriority", "o_orderstatus"))
    }, Some(
      """WITH b AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 89 = 0 THEN '0-REDACTED'
        |              ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 <> 0),
        |ta AS (SELECT count(*) AS ta FROM orders),
        |tb AS (SELECT count(*) AS tb FROM b),
        |dp AS (
        |  SELECT coalesce(ca.v, cb.v) AS v, coalesce(ca.na, 0) AS na,
        |         coalesce(cb.nb, 0) AS nb
        |  FROM (SELECT o_orderpriority AS v, count(*) AS na FROM orders GROUP BY 1) ca
        |  FULL OUTER JOIN (SELECT o_orderpriority AS v, count(*) AS nb FROM b GROUP BY 1) cb
        |    ON ca.v = cb.v),
        |ds AS (
        |  SELECT coalesce(ca.v, cb.v) AS v, coalesce(ca.na, 0) AS na,
        |         coalesce(cb.nb, 0) AS nb
        |  FROM (SELECT o_orderstatus AS v, count(*) AS na FROM orders GROUP BY 1) ca
        |  FULL OUTER JOIN (SELECT o_orderstatus AS v, count(*) AS nb FROM b GROUP BY 1) cb
        |    ON ca.v = cb.v)
        |SELECT 'o_orderpriority' AS column_name,
        |       CAST(count(*) AS BIGINT) AS n_values,
        |       CAST(sum(abs(na * tb - nb * ta)) * 1000000
        |            // (2 * max(ta) * max(tb)) AS BIGINT) AS tvd_ppm
        |FROM dp, ta, tb
        |UNION ALL
        |SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
        |       CAST(sum(abs(na * tb - nb * ta)) * 1000000
        |            // (2 * max(ta) * max(tb)) AS BIGINT)
        |FROM ds, ta, tb""".stripMargin)),

    QueryDef("q229_ab_readout", (s, d) => {
      // A/B experiment readout: users hash-split into two arms
      // (user_id % 2 — the deterministic assignment a real experiment
      // framework would persist), conversion = any purchase event.
      // Exact integer counts and ppm rates per arm; the pooled
      // two-proportion z is the ONLY float, one IEEE chain over exact
      // operands (Features.twoProportionZ). Two tiny rollups, no raw-row
      // shuffle beyond the per-user distinct.
      val users = events(s, d)
        .select(col("user_id").cast("long").as("user_id"),
          (col("event_type") === "purchase").as("conv"))
        .groupBy(col("user_id"))
        .agg(max(col("conv")).as("converted"))
        .withColumn("variant", pmod(col("user_id"), lit(2)).cast("int"))
      val arms = users.groupBy(col("variant"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("converted"), 1L).otherwise(0L)).as("n_conv"))
      val a = arms.filter(col("variant") === 0)
        .select(col("n_users").as("n_control"), col("n_conv").as("conv_control"))
      val b = arms.filter(col("variant") === 1)
        .select(col("n_users").as("n_treat"), col("n_conv").as("conv_treat"))
      a.crossJoin(broadcast(b))
        .withColumn("rate_control_ppm", expr("conv_control * 1000000 div n_control"))
        .withColumn("rate_treat_ppm", expr("conv_treat * 1000000 div n_treat"))
        .withColumn("z", Features.twoProportionZ(col("n_control"),
          col("conv_control"), col("n_treat"), col("conv_treat")))
    }, Some(
      """WITH u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
        |         user_id % 2 AS variant
        |  FROM events GROUP BY user_id),
        |arms AS (
        |  SELECT variant, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS c
        |  FROM u GROUP BY 1),
        |w AS (
        |  SELECT max(CASE WHEN variant = 0 THEN n END) AS n1,
        |         max(CASE WHEN variant = 0 THEN c END) AS c1,
        |         max(CASE WHEN variant = 1 THEN n END) AS n2,
        |         max(CASE WHEN variant = 1 THEN c END) AS c2
        |  FROM arms)
        |SELECT n1 AS n_control, c1 AS conv_control, n2 AS n_treat, c2 AS conv_treat,
        |       CAST(c1 * 1000000 // n1 AS BIGINT) AS rate_control_ppm,
        |       CAST(c2 * 1000000 // n2 AS BIGINT) AS rate_treat_ppm,
        |       CASE WHEN n1 > 0 AND n2 > 0 AND c1 + c2 > 0 AND c1 + c2 < n1 + n2
        |            THEN CAST(CAST(c1 AS HUGEINT)*n2 - CAST(c2 AS HUGEINT)*n1 AS DOUBLE)
        |                 / sqrt(CAST(CAST(c1+c2 AS HUGEINT) * (n1+n2-c1-c2) * n1 * n2
        |                             AS DOUBLE)
        |                        / CAST(n1 + n2 AS DOUBLE)) END AS z
        |FROM w""".stripMargin)),

    QueryDef("q230_numeric_drift", (s, d) => {
      // numeric drift monitor: order totals vs a deterministically
      // inflated refresh (every 3rd order +20%), bucketed by the LIVE
      // side's exact deciles, total-variation distance in exact ppm —
      // q228's numeric sibling, fences anchored on the baseline
      val o = table(s, d, "orders")
      val cents = Features.cents(col("o_totalprice"))
      val a = o.select(cents.as("v"))
      val b = o.select(when(pmod(col("o_orderkey"), lit(3)) === 0,
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 6 div 5"))
        .otherwise(cents).as("v"))
      graft.operators.GenericTests.numericDrift(a, b, col("v"), "o_totalprice")
    }, Some(
      """WITH a AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        |           FROM orders),
        |b AS (SELECT CASE WHEN o_orderkey % 3 = 0
        |                  THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 6 // 5
        |                  ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END AS v
        |      FROM orders),
        |f AS (SELECT quantile_disc(v, 0.1) AS f0, quantile_disc(v, 0.2) AS f1,
        |             quantile_disc(v, 0.3) AS f2, quantile_disc(v, 0.4) AS f3,
        |             quantile_disc(v, 0.5) AS f4, quantile_disc(v, 0.6) AS f5,
        |             quantile_disc(v, 0.7) AS f6, quantile_disc(v, 0.8) AS f7,
        |             quantile_disc(v, 0.9) AS f8
        |      FROM a),
        |ba AS (SELECT (v > f0)::INT + (v > f1)::INT + (v > f2)::INT + (v > f3)::INT
        |             + (v > f4)::INT + (v > f5)::INT + (v > f6)::INT + (v > f7)::INT
        |             + (v > f8)::INT AS bkt, count(*) AS na
        |       FROM a, f GROUP BY 1),
        |bb AS (SELECT (v > f0)::INT + (v > f1)::INT + (v > f2)::INT + (v > f3)::INT
        |             + (v > f4)::INT + (v > f5)::INT + (v > f6)::INT + (v > f7)::INT
        |             + (v > f8)::INT AS bkt, count(*) AS nb
        |       FROM b, f GROUP BY 1),
        |ta AS (SELECT count(*) AS ta FROM a),
        |tb AS (SELECT count(*) AS tb FROM b),
        |j AS (SELECT coalesce(ba.bkt, bb.bkt) AS bkt, coalesce(na, 0) AS na,
        |             coalesce(nb, 0) AS nb
        |      FROM ba FULL OUTER JOIN bb ON ba.bkt = bb.bkt)
        |SELECT 'o_totalprice' AS column_name,
        |       CAST(count(*) AS BIGINT) AS n_buckets,
        |       CAST(sum(abs(na * tb - nb * ta)) * 1000000
        |            // (2 * max(ta) * max(tb)) AS BIGINT) AS tvd_ppm
        |FROM j, ta, tb""".stripMargin)),

    QueryDef("q231_column_lineage", (s, d) => {
      // column-level lineage from the ANALYZED Catalyst plan (no SQL
      // re-parsing): a join + aggregate + literal model resolves each
      // output column to its contributing source columns — the
      // impact-analysis layer the q184 catalog's node-level deps stop
      // short of. count(1) and literal columns correctly report NO
      // lineage (NULL source), revenue tracks through the cents cast,
      // the segment key through the join.
      val orders = table(s, d, "orders")
      val customer = table(s, d, "customer")
      val model = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(sum(Features.cents(col("o_totalprice"))).as("revenue_cents"),
          count(lit(1)).as("n_orders"),
          max(to_date(col("o_orderdate"))).as("last_date"))
        .withColumn("engine", lit("graft"))
      graft.engine.Lineage.columnLineage(s, model,
        Map("orders" -> orders, "customer" -> customer))
    }, Some(
      """SELECT * FROM (VALUES
        |  ('segment', 'customer', 'c_mktsegment'),
        |  ('revenue_cents', 'orders', 'o_totalprice'),
        |  ('n_orders', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        |  ('last_date', 'orders', 'o_orderdate'),
        |  ('engine', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)))
        |  t(out_column, src_relation, src_column)""".stripMargin))
  )
}
