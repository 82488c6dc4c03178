package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Features, GenericTests}
import graft.pipeline.{Dedup, Similarity, Stats, TextAnalysis => TA}
import graft.sources.Sources.{events, table}
import graft.engine.Pin.PinOps

/** Round-9 continuation battery: statistical association and time-series
  * diagnostics (chi-square, autocorrelation, TWAP), privacy/quality audits
  * (k-anonymity, Simpson token diversity), and retrieval composition
  * (reciprocal-rank fusion, shingle containment, kNN labeling). The exact-
  * arithmetic discipline of FeatureQueries throughout: integers or single
  * IEEE expressions over exact operands, so every oracle hash-matches.
  */
object StatQueries extends QuerySet {

  /** Shared DuckDB fragments (the PipelineQueries conventions). */
  private val toksSql = "string_split(text, ' ')"
  private val shinglesSql =
    s"""CASE WHEN len($toksSql) >= 3
       |     THEN list_distinct(list_transform(generate_series(1, len($toksSql)-2),
       |            i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2]))
       |     ELSE [text] END""".stripMargin
  private val qvecSql =
    "list_transform(CAST(embedding AS DOUBLE[]), e -> CAST(floor(e * 1000 + 0.5) AS BIGINT))"
  private def dotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a,$b), p -> p[1]*p[2])) AS DOUBLE)"
  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** DuckDB CTEs for the two q237 ranked lists: brute-force and sign-LSH
    * top-5 over queries vec_id < 20 (the q36/q37 recipes with rank kept).
    * Yields `bt(query_id, neighbor_id, rn)` and `lt(...)`.
    */
  private val rankedListsCtes: String =
    s"""q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, $qvecSql AS qv,
       |             (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
       |            + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
       |            + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END) AS bucket
       |      FROM embeddings WHERE vec_id < 20),
       |c AS (SELECT CAST(vec_id AS BIGINT) AS neighbor_id, $qvecSql AS cv,
       |             (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
       |            + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
       |            + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END) AS bucket
       |      FROM embeddings),
       |bt AS (SELECT query_id, neighbor_id, rn FROM (
       |         SELECT q.query_id, c.neighbor_id,
       |                row_number() OVER (PARTITION BY q.query_id
       |                  ORDER BY ${cosSql("q.qv", "c.cv")} DESC, c.neighbor_id ASC) AS rn
       |         FROM c, q WHERE c.neighbor_id <> q.query_id) t WHERE rn <= 5),
       |lt AS (SELECT query_id, neighbor_id, rn FROM (
       |         SELECT q.query_id, c.neighbor_id,
       |                row_number() OVER (PARTITION BY q.query_id
       |                  ORDER BY ${cosSql("q.qv", "c.cv")} DESC, c.neighbor_id ASC) AS rn
       |         FROM c JOIN q ON c.bucket = q.bucket
       |         WHERE c.neighbor_id <> q.query_id) t WHERE rn <= 5)""".stripMargin

  /** q278's integer micro discounts — the SAME Scala expression builds the
    * Spark literals (Similarity.ndcgAtK) and this oracle string.
    */
  private val ndcgDiscounts: Seq[(Int, Long)] = (1 to 5).map(i =>
    i -> math.round(1e6 / (math.log(i + 1) / math.log(2))))
  private val ndcgIdcg: Long = ndcgDiscounts.map(_._2).sum

  /** DuckDB replay of [[graft.pipeline.Clustering.pcaTopComponent]] at
    * dim=64, iters=10: exact integer scatter from quantized milli vectors,
    * then the power iteration UNROLLED as 10 chained CTE pairs (w_k =
    * S v_{k-1}; v_k = sign-magnitude renormalization to 1e6) — recursive
    * CTEs cannot aggregate in the recursive term, unrolling can.
    */
  private val pcaOracleSql: String = {
    val (dim, iters) = (64, 10)
    val itCtes = (1 to iters).map { k =>
      s"""w$k AS MATERIALIZED (SELECT sc.i, sum(sc.s * v${k - 1}.val) AS w
         |       FROM sc JOIN v${k - 1} ON sc.j = v${k - 1}.i GROUP BY 1),
         |v$k AS MATERIALIZED (SELECT i, CASE WHEN w >= 0 THEN (w * 1000000) // mx
         |                      ELSE -(((-w) * 1000000) // mx) END AS val
         |       FROM w$k, (SELECT max(abs(w)) AS mx FROM w$k) m)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
       |           e -> CAST(floor(e * 1000 + 0.5) AS BIGINT)) AS v
       |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = $dim),
       |f AS (SELECT i, CAST(sum(v[i]) AS HUGEINT) AS s1
       |      FROM q, generate_series(1, $dim) g(i) GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM q),
       |m AS (SELECT i, j, CAST(sum(v[i] * v[j]) AS HUGEINT) AS s2
       |      FROM q, generate_series(1, $dim) gi(i), generate_series(1, $dim) gj(j)
       |      WHERE j >= i GROUP BY 1, 2),
       |sc0 AS (SELECT m.i, m.j, nn.n * m.s2 - fa.s1 * fb.s1 AS s
       |        FROM m JOIN f fa ON fa.i = m.i JOIN f fb ON fb.i = m.j
       |        CROSS JOIN nn),
       |sc AS MATERIALIZED (SELECT i, j, s FROM sc0
       |       UNION ALL SELECT j, i, s FROM sc0 WHERE i < j),
       |v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS val
       |       FROM generate_series(1, $dim) g(i)),
       |$itCtes,
       |tr AS (SELECT sum(s) AS trace FROM sc WHERE i = j),
       |sv AS (SELECT sc.i, sum(sc.s * v$iters.val) AS w
       |       FROM sc JOIN v$iters ON sc.j = v$iters.i GROUP BY 1),
       |lam AS (SELECT (SELECT sum(v$iters.val * sv.w)
       |                FROM v$iters JOIN sv ON v$iters.i = sv.i)
       |            // (SELECT sum(val * val) FROM v$iters) AS lambda)
       |SELECT CAST(v$iters.i AS INTEGER) AS dim_index,
       |       CAST(v$iters.val AS BIGINT) AS loading_ppm,
       |       CAST(lam.lambda AS BIGINT) AS lambda_scaled,
       |       CAST(lam.lambda * 1000000 // tr.trace AS BIGINT) AS explained_ppm
       |FROM v$iters, lam, tr""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    QueryDef("q383_e_value", (s, d) =>
      // VanderWeele-Ding sensitivity: the minimum confounder strength
      // that could explain away each q378 association — OR* folded above
      // 1 by one exact division, E = OR* + sqrt(OR*(OR*-1)) as the one
      // IEEE region
      {
        val ev = events(s, d).filter(col("ts").isNotNull)
        val d0 = ev.agg(min(to_date(col("ts"))).as("__d0"))
        graft.operators.EventAnalytics.oddsRatioMatrix(
          ev.crossJoin(broadcast(d0))
            .filter(to_date(col("ts")) === col("__d0")),
          col("event_type"), col("user_id"))
          .withColumn("or_star_milli",
            when(col("odds_ratio_milli").isNull, lit(null).cast("long"))
              .when(col("odds_ratio_milli") >= 1000L, col("odds_ratio_milli"))
              .when(col("odds_ratio_milli") > 0L,
                call_function("div", lit(1000000L), col("odds_ratio_milli")))
              .otherwise(lit(null).cast("long")))
          .withColumn("e_value_milli",
            col("or_star_milli").cast("double") +
              sqrt(col("or_star_milli").cast("double") *
                (col("or_star_milli") - 1000L).cast("double")))
          .select(col("type_a"), col("type_b"), col("odds_ratio_milli"),
            col("or_star_milli"), col("e_value_milli"))
      },
      Some(
        """WITH tu AS (SELECT DISTINCT event_type AS t,
          |                   CAST(user_id AS BIGINT) AS u
          |            FROM events
          |            WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          |              AND ts IS NOT NULL
          |              AND CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE))
          |                                      FROM events)),
          |na AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS nn FROM tu),
          |s AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY 1),
          |p AS (SELECT a.t AS type_a, b.t AS type_b,
          |             CAST(count(*) AS BIGINT) AS n11
          |      FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
          |      GROUP BY 1, 2),
          |o AS (SELECT p.type_a, p.type_b,
          |             CASE WHEN sa.n - p.n11 > 0 AND sb.n - p.n11 > 0
          |                  THEN CAST((CAST(p.n11 AS HUGEINT)
          |                             * (na.nn - sa.n - sb.n + p.n11)
          |                             * 1000)
          |                            // (CAST(sa.n - p.n11 AS HUGEINT)
          |                                * (sb.n - p.n11)) AS BIGINT)
          |             END AS orm
          |      FROM p JOIN s sa ON sa.t = p.type_a
          |             JOIN s sb ON sb.t = p.type_b
          |           CROSS JOIN na),
          |x AS (SELECT *,
          |        CASE WHEN orm IS NULL THEN CAST(NULL AS BIGINT)
          |             WHEN orm >= 1000 THEN orm
          |             WHEN orm > 0 THEN 1000000 // orm
          |             ELSE CAST(NULL AS BIGINT) END AS or_star_milli
          |      FROM o)
          |SELECT type_a, type_b, orm AS odds_ratio_milli, or_star_milli,
          |       CAST(or_star_milli AS DOUBLE)
          |         + sqrt(CAST(or_star_milli AS DOUBLE)
          |                * CAST(or_star_milli - 1000 AS DOUBLE))
          |         AS e_value_milli
          |FROM x""".stripMargin)),

    QueryDef("q384_join_coverage", (s, d) =>
      // pre-flight for the joins a 100 TB job is about to run: matched /
      // null-key / orphan accounting per declared edge — lineitem->part
      // is healthy; orders->good-standing-customers is the dim-subset
      // mismatch this op exists to catch BEFORE the inner join silently
      // drops the negative-balance accounts' orders
      graft.pipeline.Profile.joinCoverage(table(s, d, "lineitem"), Seq(
        ("lineitem_part", col("l_partkey"), table(s, d, "part"),
          col("p_partkey"))))
        .unionByName(graft.pipeline.Profile.joinCoverage(
          table(s, d, "orders"), Seq(
            ("orders_good_customer", col("o_custkey"),
              table(s, d, "customer").filter(col("c_acctbal") >= 0),
              col("c_custkey"))))),
      Some(
        """SELECT 'lineitem_part' AS edge,
          |       CAST(count(*) AS BIGINT) AS n_rows,
          |       CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)
          |            AS BIGINT) AS n_null,
          |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_keys,
          |       CAST(count(DISTINCT CASE WHEN l_partkey IN
          |              (SELECT p_partkey FROM part) THEN l_partkey END)
          |            AS BIGINT) AS n_matched_keys,
          |       CAST(sum(CASE WHEN l_partkey IS NOT NULL
          |                      AND l_partkey NOT IN
          |              (SELECT p_partkey FROM part WHERE p_partkey
          |                 IS NOT NULL)
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
          |       (CAST(sum(CASE WHEN l_partkey IN
          |           (SELECT p_partkey FROM part) THEN 1 ELSE 0 END)
          |           AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
          |         AS coverage_ppm
          |FROM lineitem
          |UNION ALL
          |SELECT 'orders_good_customer',
          |       CAST(count(*) AS BIGINT),
          |       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
          |            AS BIGINT),
          |       CAST(count(DISTINCT o_custkey) AS BIGINT),
          |       CAST(count(DISTINCT CASE WHEN o_custkey IN
          |              (SELECT c_custkey FROM customer WHERE c_acctbal >= 0)
          |              THEN o_custkey END) AS BIGINT),
          |       CAST(sum(CASE WHEN o_custkey IS NOT NULL AND o_custkey NOT IN
          |              (SELECT c_custkey FROM customer WHERE c_acctbal >= 0
          |                 AND c_custkey IS NOT NULL)
          |                     THEN 1 ELSE 0 END) AS BIGINT),
          |       (CAST(sum(CASE WHEN o_custkey IN
          |           (SELECT c_custkey FROM customer WHERE c_acctbal >= 0)
          |           THEN 1 ELSE 0 END)
          |           AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
          |FROM orders""".stripMargin)),

    QueryDef("q381_quantile_ci", (s, d) =>
      // error bars on the p95: order-statistic band at ranks
      // floor/ceil(np -+ z*sqrt(np(1-p))) — the one IEEE region; literals
      // interpolated from the SAME Scala doubles the op uses, so both
      // engines floor/ceil identical ranks
      Stats.quantileCi(table(s, d, "lineitem"), Seq("l_returnflag"),
        graft.operators.Features.cents(col("l_extendedprice")),
        qMille = 950),
      Some {
        val p = 950 / 1000.0
        val z = 1960 / 1000.0
        s"""WITH c AS (
           |  SELECT l_returnflag AS g,
           |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
           |         CAST(count(*) AS BIGINT) AS cnt
           |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2),
           |r AS (SELECT *,
           |        CAST(sum(cnt) OVER (PARTITION BY g ORDER BY v
           |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           |        CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS tot
           |      FROM c),
           |s AS (SELECT *,
           |        greatest(1, CAST(floor(CAST(tot AS DOUBLE) * $p
           |          - $z * sqrt(CAST(tot AS DOUBLE) * $p * ${1.0 - p}))
           |          AS BIGINT)) AS lo,
           |        least(tot, CAST(ceil(CAST(tot AS DOUBLE) * $p
           |          + $z * sqrt(CAST(tot AS DOUBLE) * $p * ${1.0 - p}))
           |          AS BIGINT)) AS hi
           |      FROM r)
           |SELECT g AS l_returnflag, CAST(950 AS INTEGER) AS q_mille,
           |       CAST(max(tot) AS BIGINT) AS n,
           |       CAST(max(CASE WHEN cum - cnt < lo AND lo <= cum THEN v END)
           |            AS BIGINT) AS ci_low,
           |       CAST(max(CASE WHEN cum * 1000 >= 950 * tot
           |                      AND (cum - cnt) * 1000 < 950 * tot
           |                     THEN v END) AS BIGINT) AS value,
           |       CAST(max(CASE WHEN cum - cnt < hi AND hi <= cum THEN v END)
           |            AS BIGINT) AS ci_high
           |FROM s GROUP BY 1""".stripMargin
      }),

    QueryDef("q382_interarrival_cv", (s, d) =>
      // exponentiality check on inter-event gaps per type: CV^2 in ppm
      // (Poisson arrivals read 1e6) — one DECIMAL division over exact
      // moment sums; gaps from an arrival-ordered per-type window
      Stats.durationCv2(
        events(s, d)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .select(col("event_type"),
            (call_function("div", unix_micros(col("ts")), lit(1000000L)) -
              lag(call_function("div", unix_micros(col("ts")),
                lit(1000000L)), 1).over(
                org.apache.spark.sql.expressions.Window
                  .partitionBy(col("event_type"))
                  .orderBy(col("ts").asc, col("event_id").asc)))
              .as("gap"))
          .filter(col("gap").isNotNull && col("gap") > 0L),
        Seq("event_type"), col("gap")),
      Some(
        """WITH g AS (
          |  SELECT event_type,
          |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
          |           - lag(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000, 1)
          |             OVER (PARTITION BY event_type
          |                   ORDER BY CAST(ts AS TIMESTAMP), event_id)
          |           AS gap
          |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
          |f AS (SELECT event_type, CAST(gap AS BIGINT) AS gap FROM g
          |      WHERE gap IS NOT NULL AND gap > 0)
          |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(gap) AS BIGINT) AS s,
          |       CASE WHEN count(*) > 1 AND sum(gap) > 0
          |            THEN CAST((CAST(count(*) AS HUGEINT)
          |                       * (CAST(count(*) AS HUGEINT)
          |                          * sum(CAST(gap AS HUGEINT) * gap)
          |                          - CAST(sum(gap) AS HUGEINT) * sum(gap))
          |                       * 1000000)
          |                      // (CAST(count(*) - 1 AS HUGEINT)
          |                          * CAST(sum(gap) AS HUGEINT) * sum(gap))
          |                      AS BIGINT)
          |       END AS cv2_ppm
          |FROM f GROUP BY 1""".stripMargin)),

    QueryDef("q375_dow_seasonal_index", (s, d) =>
      // demand-planning factor table: each weekday's mean volume vs the
      // overall mean per event type, one cross-multiplied ppm division
      Stats.dowSeasonalIndex(
        events(s, d).filter(col("ts").isNotNull && col("event_type").isNotNull),
        Seq("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
        lit(1L)),
      Some(
        """WITH dl AS (
          |  SELECT event_type,
          |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
          |         CAST(count(*) AS BIGINT) AS v
          |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
          |  GROUP BY 1, 2),
          |bd AS (SELECT event_type, d % 7 AS dow,
          |              CAST(count(*) AS BIGINT) AS n_days,
          |              CAST(sum(v) AS BIGINT) AS dow_sum
          |       FROM dl GROUP BY 1, 2),
          |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
          |             CAST(sum(v) AS BIGINT) AS s
          |      FROM dl GROUP BY 1)
          |SELECT bd.event_type, bd.dow, bd.n_days, bd.dow_sum,
          |       CASE WHEN t.s > 0 AND bd.n_days > 0
          |            THEN CAST((CAST(bd.dow_sum AS HUGEINT) * t.nd * 1000000)
          |                      // (CAST(bd.n_days AS HUGEINT) * t.s)
          |                      AS BIGINT)
          |       END AS index_ppm
          |FROM bd JOIN t USING (event_type)""".stripMargin)),

    QueryDef("q363_trimmed_mean", (s, d) =>
      // 5%-trimmed mean of line price cents per return flag: tails don't
      // vote; distinct-value rollup, arithmetic boundary split, ONE
      // micro division
      Stats.trimmedMean(table(s, d, "lineitem"), Seq("l_returnflag"),
        graft.operators.Features.cents(col("l_extendedprice")),
        trimMille = 50),
      Some(
        """WITH c AS (
          |  SELECT l_returnflag AS g,
          |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
          |         CAST(count(*) AS BIGINT) AS cnt
          |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2),
          |r AS (SELECT *,
          |        CAST(sum(cnt) OVER (PARTITION BY g ORDER BY v
          |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          |        CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS tot
          |      FROM c),
          |k AS (SELECT g, v, tot,
          |             greatest(0, least(cum, tot - (tot * 50) // 1000)
          |               - greatest(cum - cnt + 1, (tot * 50) // 1000 + 1)
          |               + 1) AS kept
          |      FROM r)
          |SELECT g AS l_returnflag, CAST(max(tot) AS BIGINT) AS n,
          |       CAST(coalesce(sum(kept), 0) AS BIGINT) AS n_kept,
          |       CASE WHEN coalesce(sum(kept), 0) > 0
          |            THEN CAST((sum(CAST(kept AS HUGEINT) * v) * 1000000)
          |                      // CAST(sum(kept) AS HUGEINT) AS BIGINT)
          |       END AS trimmed_mean_micro
          |FROM k GROUP BY 1""".stripMargin)),

    QueryDef("q355_tv_drift", (s, d) =>
      // total-variation distance between the first-5-days-of-week and
      // rest event-type mixes: the log-free exact drift metric, ONE
      // DECIMAL division — catches vanished/new categories binned KS misses
      Stats.totalVariationDrift(events(s, d).filter(col("ts").isNotNull),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 7 < 5,
        col("event_type")),
      Some(
        """WITH b AS (
          |  SELECT event_type,
          |         CASE WHEN (CAST(ts AS DATE) - DATE '1970-01-01') % 7 < 5
          |              THEN 1 ELSE 0 END AS in_a
          |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
          |c AS (SELECT event_type,
          |             CAST(sum(in_a) AS BIGINT) AS ca,
          |             CAST(sum(1 - in_a) AS BIGINT) AS cb
          |      FROM b GROUP BY 1),
          |t AS (SELECT CAST(count(*) AS BIGINT) AS n_cats,
          |             CAST(coalesce(sum(ca), 0) AS BIGINT) AS n_a,
          |             CAST(coalesce(sum(cb), 0) AS BIGINT) AS n_b
          |      FROM c)
          |SELECT t.n_cats, t.n_a, t.n_b,
          |       CASE WHEN t.n_a > 0 AND t.n_b > 0
          |            THEN CAST((sum(abs(CAST(c.ca AS HUGEINT) * t.n_b
          |                               - CAST(c.cb AS HUGEINT) * t.n_a))
          |                       * 1000000)
          |                      // (2 * CAST(t.n_a AS HUGEINT) * t.n_b)
          |                      AS BIGINT)
          |       END AS tv_ppm
          |FROM c CROSS JOIN t GROUP BY 1, 2, 3""".stripMargin)),

    QueryDef("q356_feature_hash", (s, d) =>
      // the hashing trick: fixed 64-dim signed index space over
      // high-cardinality categoricals, md5-portable on both engines,
      // colliding features sum with cancelling signs
      Features.featureHash(table(s, d, "customer"), col("c_custkey"),
        Seq("c_mktsegment", "c_nationkey"), dim = 64)
        .withColumn("id", col("id").cast("long")),
      Some(
        """WITH t AS (
          |  SELECT CAST(c_custkey AS BIGINT) AS id,
          |         'c_mktsegment:' || c_mktsegment AS tok
          |  FROM customer WHERE c_mktsegment IS NOT NULL
          |  UNION ALL
          |  SELECT CAST(c_custkey AS BIGINT),
          |         'c_nationkey:' || CAST(c_nationkey AS VARCHAR)
          |  FROM customer WHERE c_nationkey IS NOT NULL)
          |SELECT id,
          |       CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 64
          |            AS BIGINT) AS feature_idx,
          |       CAST(sum(CASE WHEN ('0x' || substr(md5(tok), 9, 1))::BIGINT
          |                          % 2 = 0
          |                     THEN 1 ELSE -1 END) AS BIGINT) AS value
          |FROM t GROUP BY 1, 2""".stripMargin)),

    QueryDef("q378_odds_ratio", (s, d) => {
      // association beyond co-popularity: the full 2x2 per type pair on
      // day-1 audiences, exact cross-product OR in milli — the neither
      // cell Jaccard throws away
      val ev = events(s, d).filter(col("ts").isNotNull)
      val d0 = ev.agg(min(to_date(col("ts"))).as("__d0"))
      graft.operators.EventAnalytics.oddsRatioMatrix(
        ev.crossJoin(broadcast(d0))
          .filter(to_date(col("ts")) === col("__d0")),
        col("event_type"), col("user_id"))
    }, Some(
      """WITH tu AS (SELECT DISTINCT event_type AS t,
        |                   CAST(user_id AS BIGINT) AS u
        |            FROM events
        |            WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |              AND ts IS NOT NULL
        |              AND CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE))
        |                                      FROM events)),
        |na AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS nn FROM tu),
        |s AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY 1),
        |p AS (SELECT a.t AS type_a, b.t AS type_b,
        |             CAST(count(*) AS BIGINT) AS n11
        |      FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
        |      GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n11,
        |       sa.n - p.n11 AS n10, sb.n - p.n11 AS n01,
        |       na.nn - sa.n - sb.n + p.n11 AS n00,
        |       CASE WHEN sa.n - p.n11 > 0 AND sb.n - p.n11 > 0
        |            THEN CAST((CAST(p.n11 AS HUGEINT)
        |                       * (na.nn - sa.n - sb.n + p.n11) * 1000)
        |                      // (CAST(sa.n - p.n11 AS HUGEINT)
        |                          * (sb.n - p.n11)) AS BIGINT)
        |       END AS odds_ratio_milli
        |FROM p JOIN s sa ON sa.t = p.type_a
        |       JOIN s sb ON sb.t = p.type_b
        |     CROSS JOIN na""".stripMargin)),

    QueryDef("q357_audience_overlap", (s, d) => {
      // population overlap per event-type pair: exact Jaccard of user
      // sets — user-keyed self equi-join, never a type-pair cartesian.
      // Day-1 audiences: over the full month every user touches every
      // type (jaccard saturates at 1e6 and proves nothing)
      val ev = events(s, d).filter(col("ts").isNotNull)
      val d0 = ev.agg(min(to_date(col("ts"))).as("__d0"))
      graft.operators.EventAnalytics.audienceOverlap(
        ev.crossJoin(broadcast(d0))
          .filter(to_date(col("ts")) === col("__d0")),
        col("event_type"), col("user_id"))
    }, Some(
        """WITH tu AS (SELECT DISTINCT event_type AS t,
          |                   CAST(user_id AS BIGINT) AS u
          |            FROM events
          |            WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          |              AND ts IS NOT NULL
          |              AND CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE))
          |                                      FROM events)),
          |s AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY 1),
          |p AS (SELECT a.t AS type_a, b.t AS type_b,
          |             CAST(count(*) AS BIGINT) AS n_common
          |      FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
          |      GROUP BY 1, 2)
          |SELECT p.type_a, p.type_b, sa.n AS n_a, sb.n AS n_b, p.n_common,
          |       (p.n_common * 1000000) // (sa.n + sb.n - p.n_common)
          |         AS jaccard_ppm
          |FROM p JOIN s sa ON sa.t = p.type_a
          |       JOIN s sb ON sb.t = p.type_b""".stripMargin)),

    QueryDef("q351_weighted_quantiles", (s, d) =>
      // quantity-weighted price quantiles per return flag: the smallest
      // price whose cumulative WEIGHT reaches the rank — whale rows count
      // by their measure, not once; distinct-value rollup, integer rank
      // test, zero-weight values unselectable by construction
      Stats.weightedQuantiles(table(s, d, "lineitem"), Seq("l_returnflag"),
        graft.operators.Features.cents(col("l_extendedprice")),
        col("l_quantity").cast("long"), qMilles = Seq(500, 900)),
      Some(
        """WITH c AS (
          |  SELECT l_returnflag,
          |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
          |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
          |  FROM lineitem
          |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
          |  GROUP BY 1, 2),
          |r AS (SELECT *,
          |        CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
          |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          |        CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT)
          |          AS tot
          |      FROM c)
          |SELECT l_returnflag, q.q_mille, v AS value, tot AS total_weight
          |FROM r, (VALUES (500), (900)) q(q_mille)
          |WHERE cum * 1000 >= q.q_mille * tot
          |  AND (cum - w) * 1000 < q.q_mille * tot""".stripMargin)),

    QueryDef("q353_fano_factor", (s, d) =>
      // overdispersion of daily event counts per type: var/mean as ONE
      // exact division (n*sum(c^2) - S^2) div (n*S) in ppm — the
      // is-this-Poisson gate for arrival monitoring
      Stats.fanoFactor(
        events(s, d)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
              .as("day"))
          .agg(count(lit(1)).as("cnt")),
        Seq("event_type"), col("cnt")),
      Some(
        """WITH c AS (
          |  SELECT event_type,
          |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
          |         CAST(count(*) AS BIGINT) AS cnt
          |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
          |  GROUP BY 1, 2)
          |SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
          |       CAST(sum(cnt) AS BIGINT) AS s,
          |       CASE WHEN sum(cnt) > 0
          |            THEN CAST(((CAST(count(*) AS HUGEINT)
          |                        * sum(CAST(cnt AS HUGEINT) * cnt)
          |                        - CAST(sum(cnt) AS HUGEINT) * sum(cnt))
          |                       * 1000000)
          |                      // (CAST(count(*) AS HUGEINT) * sum(cnt))
          |                      AS BIGINT)
          |       END AS fano_ppm
          |FROM c GROUP BY 1""".stripMargin)),

    QueryDef("q318_pca_power", (s, d) =>
      // top principal axis of the embedding corpus by integer power
      // iteration over the exact scatter matrix — the degenerate-space
      // diagnostic + whitening axis; one scan, moment-only shuffle,
      // d-bounded driver work (see Clustering.pcaTopComponent)
      graft.pipeline.Clustering.pcaTopComponent(
        table(s, d, "embeddings"), "embedding", dim = 64, iters = 10),
      Some(pcaOracleSql)),

    QueryDef("q321_item_cf", (s, d) =>
      // item-item neighborhood CF: top-3 co-purchase cosine neighbors per
      // part — the "also bought" table, similarity complement of q249's
      // lift (exact counts, two IEEE steps, WindowGroupLimit top-k)
      Features.itemNeighbors(table(s, d, "lineitem"),
        col("l_orderkey").cast("long"), col("l_partkey").cast("long"),
        k = 3, minSupport = 2),
      Some(
        """WITH items AS (
          |  SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS basket,
          |                  CAST(l_partkey AS BIGINT) AS item
          |  FROM lineitem),
          |m AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM items GROUP BY 1),
          |p AS (
          |  SELECT a.item AS item_a, b.item AS item_b, CAST(count(*) AS BIGINT) AS n_both
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
          |       FROM sym)
          |SELECT item, neighbor, n_both, cosine, CAST(rank AS INTEGER) AS rank
          |FROM (SELECT *, row_number() OVER (PARTITION BY item
          |        ORDER BY cosine DESC, neighbor ASC) AS rank FROM sc) t
          |WHERE rank <= 3""".stripMargin)),

    QueryDef("q323_quantile_normalize", (s, d) =>
      // quantile normalization of per-flag quantity distributions onto
      // the pooled marginal (midpoint rank scaling, all-integer): the
      // batch-effect remover — after the mapping, every flag's quantity
      // distribution is the same
      Stats.quantileNormalize(table(s, d, "lineitem"), Seq("l_returnflag"),
        col("l_quantity").cast("long")),
      Some(
        """WITH base AS (
          |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
          |  FROM lineitem WHERE l_quantity IS NOT NULL),
          |gb AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY 1, 2),
          |gr AS (SELECT g, v, cnt,
          |              sum(cnt) OVER (PARTITION BY g ORDER BY v) - cnt + 1 AS rnk,
          |              sum(cnt) OVER (PARTITION BY g) AS ng
          |       FROM gb),
          |pb AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY 1),
          |pr AS (SELECT v, sum(cnt) OVER (ORDER BY v) - cnt AS lo,
          |              sum(cnt) OVER (ORDER BY v) AS hi
          |       FROM pb),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
          |mi AS (SELECT g, v, cnt,
          |              ((2 * rnk + cnt - 2) * nn.n) // (2 * ng) AS i
          |       FROM gr, nn)
          |SELECT mi.g AS l_returnflag, mi.v, mi.cnt, pr.v AS norm_v
          |FROM mi JOIN pr ON mi.i >= pr.lo AND mi.i < pr.hi""".stripMargin)),

    QueryDef("q325_sq8_quantize", (s, d) =>
      // SQ8 vector storage: per-dim min-max calibration + 8-bit codes +
      // exact reconstruction error over a 200-vector slice (long format —
      // array cells don't hash across engines)
      Similarity.scalarQuantize8(
        table(s, d, "embeddings").filter(col("vec_id") < 200),
        "vec_id", "embedding"),
      Some(
        s"""WITH comp AS (
           |  SELECT CAST(vec_id AS BIGINT) AS id, g.i AS dim_index, q.v[g.i] AS x
           |  FROM (SELECT vec_id, $qvecSql AS v FROM embeddings
           |        WHERE vec_id < 200 AND embedding IS NOT NULL) q,
           |       generate_series(1, 64) g(i)),
           |b AS (SELECT dim_index, min(x) AS mn, max(x) AS mx
           |      FROM comp GROUP BY 1)
           |SELECT comp.id, CAST(comp.dim_index AS INTEGER) AS dim_index,
           |       CASE WHEN b.mx > b.mn
           |            THEN ((comp.x - b.mn) * 255) // (b.mx - b.mn)
           |            ELSE 0 END AS code,
           |       abs(comp.x - (b.mn +
           |         (CASE WHEN b.mx > b.mn
           |               THEN ((comp.x - b.mn) * 255) // (b.mx - b.mn)
           |               ELSE 0 END * (b.mx - b.mn)) // 255)) AS err_milli
           |FROM comp JOIN b USING (dim_index)""".stripMargin)),

    QueryDef("q314_benford", (s, d) =>
      // Benford first-digit audit of the invoice amounts — the classic
      // fabricated-amounts screen. Audited in cents (leading digit is
      // invariant under power-of-ten scaling); starved digits still emit
      // a row with n_obs = 0
      Stats.benfordAudit(table(s, d, "lineitem"),
        floor(col("l_extendedprice") * 100 + 0.5)),
      Some(
        """WITH c AS (
          |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS u
          |  FROM lineitem),
          |o AS (SELECT CAST(substr(CAST(u AS VARCHAR), 1, 1) AS INTEGER) AS digit,
          |             CAST(count(*) AS BIGINT) AS n
          |      FROM c WHERE u > 0 GROUP BY 1),
          |e AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
          |        (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
          |        (9, 45757)) AS v(digit, ppm)),
          |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM o)
          |SELECT e.digit, coalesce(o.n, 0) AS n_obs,
          |       CAST(e.ppm AS BIGINT) AS expected_ppm,
          |       coalesce(o.n, 0) * 1000000 // t.total AS observed_ppm,
          |       CAST((CAST(coalesce(o.n, 0) AS HUGEINT) * 1000000
          |               - CAST(e.ppm AS HUGEINT) * t.total)
          |            * (CAST(coalesce(o.n, 0) AS HUGEINT) * 1000000
          |               - CAST(e.ppm AS HUGEINT) * t.total)
          |            // (CAST(e.ppm AS HUGEINT) * t.total * 1000000) AS BIGINT)
          |         AS chi_contrib_micro
          |FROM e LEFT JOIN o ON e.digit = o.digit CROSS JOIN t""".stripMargin)),

    QueryDef("q315_mann_kendall", (s, d) =>
      // Mann-Kendall monotonic-trend test + Sen's slope on the per-flag
      // daily revenue series: the distribution-free "is revenue drifting"
      // readout that complements q275's changepoint localization. Pairwise
      // work is over DAYS (calendar-bounded), never raw rows
      Stats.mannKendallDaily(table(s, d, "lineitem"), Seq("l_returnflag"),
        datediff(to_date(col("l_shipdate")), lit("1970-01-01").cast("date")),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long")),
      Some(
        """WITH dc AS (
          |  SELECT l_returnflag AS flag,
          |         CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
          |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
          |  FROM lineitem GROUP BY 1, 2),
          |p AS (SELECT a.flag, b.y - a.y AS dy, b.day - a.day AS dd
          |      FROM dc a JOIN dc b ON a.flag = b.flag AND a.day < b.day),
          |s AS (SELECT flag,
          |             CAST(sum(CASE WHEN dy > 0 THEN 1 WHEN dy < 0 THEN -1
          |                           ELSE 0 END) AS BIGINT) AS s_stat
          |      FROM p GROUP BY 1),
          |t AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_days,
          |             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
          |      FROM (SELECT flag, y, count(*) AS t FROM dc GROUP BY 1, 2)
          |      GROUP BY 1),
          |v AS (SELECT flag, n_days,
          |             n_days * (n_days - 1) * (2 * n_days + 5) - tie AS var18
          |      FROM t),
          |sl AS (SELECT flag,
          |              CAST(CASE WHEN dy > 0 THEN 1 WHEN dy < 0 THEN -1 ELSE 0 END
          |                   * ((abs(dy) * 1000000) // dd) AS BIGINT) AS slope_ppm
          |       FROM p),
          |m AS (SELECT flag, slope_ppm, count(*) AS cnt FROM sl GROUP BY 1, 2),
          |mc AS (SELECT flag, slope_ppm, cnt,
          |              sum(cnt) OVER (PARTITION BY flag ORDER BY slope_ppm) AS cum,
          |              sum(cnt) OVER (PARTITION BY flag) AS tot
          |       FROM m),
          |sen AS (SELECT flag, min(slope_ppm) AS sen_slope_ppm FROM mc
          |        WHERE cum * 2 >= tot AND (cum - cnt) * 2 < tot GROUP BY 1)
          |SELECT s.flag AS l_returnflag, v.n_days, s.s_stat, v.var18,
          |       (abs(s.s_stat) > 1 AND
          |        CAST(abs(s.s_stat) - 1 AS HUGEINT) * (abs(s.s_stat) - 1) * 180000
          |          > CAST(v.var18 AS HUGEINT) * 38416) AS significant,
          |       sen.sen_slope_ppm
          |FROM s JOIN v USING (flag) JOIN sen USING (flag)""".stripMargin)),

    QueryDef("q310_hard_negatives", (s, d) => {
      // contrastive hard-negative mining: per anchor the top-5 most
      // cosine-similar DIFFERENT-label vectors — the near-but-wrong
      // examples that define an embedding model's decision boundary
      // (a random negative is trivially far). Exact brute variant;
      // the scale path pre-restricts by sign bucket / IVF probe.
      val emb = table(s, d, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 25), k = 5)
    }, Some(
      s"""WITH q AS (SELECT CAST(vec_id AS BIGINT) AS anchor_id, $qvecSql AS qv,
         |                  CAST(label AS BIGINT) AS al
         |           FROM embeddings WHERE vec_id < 25),
         |c AS (SELECT CAST(vec_id AS BIGINT) AS neighbor_id, $qvecSql AS cv,
         |             CAST(label AS BIGINT) AS neighbor_label FROM embeddings),
         |scored AS (
         |  SELECT q.anchor_id, c.neighbor_id, c.neighbor_label,
         |         ${cosSql("q.qv", "c.cv")} AS score
         |  FROM c, q WHERE c.neighbor_label <> q.al)
         |SELECT anchor_id, neighbor_id, neighbor_label, score,
         |       CAST(rank AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
         |        ORDER BY score DESC, neighbor_id ASC) AS rank
         |      FROM scored) t
         |WHERE rank <= 5""".stripMargin)),

    QueryDef("q311_relation_fingerprint", (s, d) => {
      // order-independent content fingerprint per return-flag slice: the
      // cheap "did this run change the output" gate (fingerprint first,
      // reconcile via compareRelations only when it moved). XOR of 60-bit
      // md5 row prefixes + the row count; canonical string rendering with
      // the timestamp cast to DATE (exact on both engines)
      val li = table(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        to_date(col("l_shipdate")).cast("string").as("ship_day"))
      GenericTests.relationFingerprint(li,
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "ship_day"),
        groupCols = Seq("l_returnflag"))
    }, Some(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |       bit_xor(('0x' || substr(md5(
        |           coalesce(CAST(l_orderkey AS VARCHAR), chr(1)) || '|' ||
        |           coalesce(CAST(l_linenumber AS VARCHAR), chr(1)) || '|' ||
        |           coalesce(l_returnflag, chr(1)) || '|' ||
        |           coalesce(CAST(CAST(l_shipdate AS DATE) AS VARCHAR), chr(1))), 1, 15))::BIGINT)
        |         AS fingerprint
        |FROM lineitem GROUP BY 1""".stripMargin)),

    QueryDef("q278_ndcg", (s, d) => {
      // position-aware ANN evaluation: nDCG@5 of the sign-LSH index
      // against brute-force ground truth (q173's recall@k made
      // rank-sensitive) — a hit at rank i earns the fixed integer
      // discount round(1e6/log2(i+1)), so the score is exact and a miss
      // at rank 1 hurts more than one at rank 5.
      val emb = table(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      Similarity.ndcgAtK(
        Similarity.bruteForceTopK(emb, q, k = 5),
        Similarity.lshTopK(emb, q, k = 5, signBits = 3), k = 5)
    }, Some {
      val dcase = ndcgDiscounts.map { case (i, w) =>
        s"WHEN l.rn = $i THEN ${w}" }.mkString(" ")
      s"""WITH $rankedListsCtes,
         |h AS (SELECT b.query_id,
         |             CAST(sum(CASE $dcase ELSE 0 END) AS BIGINT) AS dcg_micro
         |      FROM bt b JOIN lt l USING (query_id, neighbor_id)
         |      GROUP BY 1)
         |SELECT q.query_id, coalesce(h.dcg_micro, 0) AS dcg_micro,
         |       CAST(coalesce(h.dcg_micro, 0) * 1000000 // $ndcgIdcg AS BIGINT)
         |         AS ndcg_ppm
         |FROM (SELECT DISTINCT query_id FROM bt) q
         |LEFT JOIN h USING (query_id)""".stripMargin
    }),

    QueryDef("q232_chi_square", (s, d) =>
      // feature-association audit: is order status independent of order
      // priority? Exact per-cell chi-square contributions in milli-points
      // (sum(term_milli) = the statistic); every value an exact integer.
      Features.chiSquareCells(table(s, d, "orders"),
        col("o_orderstatus"), col("o_orderpriority"))
        .withColumnRenamed("a", "status")
        .withColumnRenamed("b", "priority"),
      Some(
        """WITH sp AS (
          |  SELECT o_orderstatus AS status, o_orderpriority AS priority,
          |         CAST(count(*) AS BIGINT) AS observed
          |  FROM orders GROUP BY 1, 2),
          |obs AS (
          |  SELECT ga.status, gb.priority,
          |         CAST(coalesce(sp.observed, 0) AS BIGINT) AS observed
          |  FROM (SELECT DISTINCT status FROM sp) ga
          |  CROSS JOIN (SELECT DISTINCT priority FROM sp) gb
          |  LEFT JOIN sp ON sp.status IS NOT DISTINCT FROM ga.status
          |              AND sp.priority IS NOT DISTINCT FROM gb.priority),
          |r AS (SELECT status, CAST(sum(observed) AS HUGEINT) AS r_tot FROM obs GROUP BY 1),
          |c AS (SELECT priority, CAST(sum(observed) AS HUGEINT) AS c_tot FROM obs GROUP BY 1),
          |n AS (SELECT CAST(sum(observed) AS HUGEINT) AS n_tot FROM obs),
          |t AS (
          |  SELECT status, priority, observed, r_tot, c_tot, n_tot,
          |         CAST(observed AS HUGEINT) * n_tot - r_tot * c_tot AS delta
          |  FROM obs JOIN r USING (status) JOIN c USING (priority) CROSS JOIN n)
          |SELECT status, priority, observed,
          |       CAST((r_tot * c_tot * 1000) // n_tot AS BIGINT) AS expected_milli,
          |       CAST((delta * delta * 1000) // (n_tot * r_tot * c_tot) AS BIGINT) AS term_milli
          |FROM t""".stripMargin)),

    QueryDef("q261_chi_square_summary", (s, d) =>
      // q232's one-row readout: chi-square in exact milli, dof, and
      // Cramér's V effect size (one IEEE sqrt over exact operands).
      Features.chiSquareSummary(table(s, d, "orders"),
        col("o_orderstatus"), col("o_orderpriority")),
      Some(
        """WITH sp AS (
          |  SELECT o_orderstatus AS a, o_orderpriority AS b,
          |         CAST(count(*) AS BIGINT) AS observed
          |  FROM orders GROUP BY 1, 2),
          |obs AS (
          |  SELECT ga.a, gb.b,
          |         CAST(coalesce(sp.observed, 0) AS BIGINT) AS observed
          |  FROM (SELECT DISTINCT a FROM sp) ga
          |  CROSS JOIN (SELECT DISTINCT b FROM sp) gb
          |  LEFT JOIN sp ON sp.a IS NOT DISTINCT FROM ga.a
          |              AND sp.b IS NOT DISTINCT FROM gb.b),
          |r AS (SELECT a, CAST(sum(observed) AS HUGEINT) AS r_tot FROM obs GROUP BY 1),
          |c AS (SELECT b, CAST(sum(observed) AS HUGEINT) AS c_tot FROM obs GROUP BY 1),
          |n AS (SELECT CAST(sum(observed) AS HUGEINT) AS n_tot FROM obs),
          |t AS (
          |  SELECT observed, r_tot, c_tot, n_tot,
          |         CAST(observed AS HUGEINT) * n_tot - r_tot * c_tot AS delta
          |  FROM obs JOIN r USING (a) JOIN c USING (b) CROSS JOIN n),
          |s AS (
          |  SELECT CAST((SELECT sum(observed) FROM obs) AS BIGINT) AS n_rows,
          |         CAST(((SELECT count(*) FROM r) - 1) * ((SELECT count(*) FROM c) - 1) AS BIGINT) AS dof,
          |         CAST(sum((delta * delta * 1000) // (n_tot * r_tot * c_tot)) AS BIGINT) AS chi2_milli,
          |         CAST(least((SELECT count(*) FROM r) - 1,
          |                    (SELECT count(*) FROM c) - 1) AS BIGINT) AS mn
          |  FROM t)
          |SELECT n_rows, dof, chi2_milli,
          |       CASE WHEN mn > 0
          |            THEN sqrt(CAST(chi2_milli AS DOUBLE)
          |                      / (1000.0 * CAST(n_rows AS DOUBLE) * CAST(mn AS DOUBLE)))
          |       END AS cramers_v
          |FROM s""".stripMargin)),

    QueryDef("q233_autocorr", (s, d) =>
      // per-type ACF of the daily event-count series at lags 1..7 — the
      // weekly-seasonality diagnostic feeding the q204 baseline choice.
      // Densified day spine; exact BIGINT->DECIMAL moments; one IEEE
      // division per lag.
      Stats.autocorr(events(s, d), Seq("event_type"),
        unix_date(to_date(col("ts"))), lit(1L), maxLag = 7),
      Some {
        val maxLag = 7
        val leadCols = (1 to maxLag)
          .map(k => s"lead(x, $k) OVER (PARTITION BY event_type ORDER BY day ASC) AS x_$k")
          .mkString(",\n         ")
        val lagAggs = (1 to maxLag).map(k =>
          s"""sum(CAST(x AS HUGEINT) * x_$k) AS p_$k,
             |         sum(CASE WHEN x_$k IS NOT NULL THEN CAST(x AS HUGEINT) END) AS sh_$k,
             |         sum(CAST(x_$k AS HUGEINT)) AS st_$k""".stripMargin)
          .mkString(",\n         ")
        val lagRows = (1 to maxLag).map { k =>
          s"""SELECT event_type, $k AS lag, CAST(n - $k AS BIGINT) AS n_pairs,
             |       CASE WHEN n*n*ss - n*s*s <> 0 AND n > $k
             |            THEN CAST(n*n*coalesce(p_$k, 0) - n*s*(coalesce(sh_$k, 0) + coalesce(st_$k, 0))
             |                      + (n - $k)*s*s AS DOUBLE)
             |               / CAST(n*n*ss - n*s*s AS DOUBLE) END AS acf
             |FROM agg""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH daily AS (
           |  SELECT event_type,
           |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
           |         CAST(count(*) AS BIGINT) AS y
           |  FROM events GROUP BY 1, 2),
           |b AS (SELECT event_type, min(day) AS mn, max(day) AS mx FROM daily GROUP BY 1),
           |spine AS (SELECT event_type, unnest(generate_series(mn, mx)) AS day FROM b),
           |dense AS (
           |  SELECT s.event_type, s.day, coalesce(d.y, 0) AS x
           |  FROM spine s LEFT JOIN daily d ON d.event_type = s.event_type AND d.day = s.day),
           |led AS (
           |  SELECT event_type, x,
           |         $leadCols
           |  FROM dense),
           |agg AS (
           |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
           |         sum(CAST(x AS HUGEINT)) AS s, sum(CAST(x AS HUGEINT) * x) AS ss,
           |         $lagAggs
           |  FROM led GROUP BY 1)
           |$lagRows""".stripMargin
      }),

    QueryDef("q234_twap", (s, d) =>
      // time-weighted average event value per type over irregular samples:
      // each sample holds until the next (exact microsecond durations),
      // the honest mean for state-like metrics. Exact integer micro-units.
      Stats.twap(events(s, d), Seq("event_type"), col("ts"), col("event_id"),
        floor(col("value") * 1000 + lit(0.5)).cast("long")),
      Some(
        """WITH s AS (
          |  SELECT event_type, epoch_us(ts) AS us, event_id,
          |         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm
          |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
          |d AS (
          |  SELECT event_type, vm,
          |         lead(us) OVER (PARTITION BY event_type ORDER BY us ASC, event_id ASC) - us AS dur
          |  FROM s)
          |SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
          |       CAST(sum(dur) AS BIGINT) AS total_dur_us,
          |       CAST(CASE WHEN sum(dur) > 0
          |                 THEN (sum(CAST(vm AS HUGEINT) * dur) * 1000) // CAST(sum(dur) AS HUGEINT)
          |            END AS BIGINT) AS twap_micro
          |FROM d WHERE dur IS NOT NULL GROUP BY 1""".stripMargin)),

    QueryDef("q235_k_anonymity", (s, d) =>
      // privacy gate: quasi-identifier (segment, nation) combinations seen
      // fewer than k=5 times re-identify their members.
      GenericTests.kAnonymity(table(s, d, "customer"),
        Seq("c_mktsegment", "c_nationkey"), k = 5),
      Some(
        """SELECT c_mktsegment, c_nationkey,
          |       CAST(count(*) AS BIGINT) AS group_size,
          |       count(*) < 5 AS at_risk
          |FROM customer GROUP BY 1, 2""".stripMargin)),

    QueryDef("q236_token_diversity", (s, d) =>
      // repetition spam signal: exact-ppm Simpson repeat index per doc
      // (probability two tokens drawn without replacement are equal).
      TA.tokenDiversity(table(s, d, "documents")),
      Some(
        s"""WITH tok AS (
           |  SELECT doc_id, unnest($toksSql) AS token
           |  FROM documents WHERE text IS NOT NULL),
           |f AS (
           |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS f
           |  FROM tok GROUP BY 1, 2)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |       CAST(sum(f) AS BIGINT) AS n_tokens,
           |       CAST(count(*) AS BIGINT) AS n_types,
           |       CAST(CASE WHEN sum(f) > 1
           |                 THEN (sum(f * (f - 1)) * 1000000)
           |                      // (CAST(sum(f) AS HUGEINT) * (sum(f) - 1))
           |            END AS BIGINT) AS simpson_ppm
           |FROM f GROUP BY 1""".stripMargin)),

    QueryDef("q237_rrf_fusion", (s, d) => {
      // hybrid-retrieval fusion: brute-force cosine and sign-LSH top-5
      // lists combined by reciprocal-rank fusion in exact integer
      // micro-units; re-ranked fused top-5 per query.
      val emb = table(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      Similarity.rrfFuse(Seq(
        Similarity.bruteForceTopK(emb, q, k = 5),
        Similarity.lshTopK(emb, q, k = 5, signBits = 3)), k = 5)
    }, Some(
      s"""WITH $rankedListsCtes,
         |u AS (SELECT query_id, neighbor_id, 1000000 // (60 + rn) AS contrib FROM bt
         |      UNION ALL
         |      SELECT query_id, neighbor_id, 1000000 // (60 + rn) AS contrib FROM lt),
         |f AS (SELECT query_id, neighbor_id,
         |             CAST(sum(contrib) AS BIGINT) AS rrf_micro,
         |             CAST(count(*) AS BIGINT) AS n_lists
         |      FROM u GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, rrf_micro, n_lists, CAST(rank AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY rrf_micro DESC, neighbor_id ASC) AS rank FROM f) t
         |WHERE rank <= 5""".stripMargin)),

    QueryDef("q238_containment_pairs", (s, d) => {
      // asymmetric dedup: short docs embedded in longer ones score
      // containment ~1 while Jaccard stays low. Prefix-filtered candidate
      // join, exact set sizes, one IEEE division.
      val docs = table(s, d, "documents")
        .withColumn("block", concat_ws("/", col("lang"), col("source")))
      Dedup.containmentPairs(docs, "block", n = 3, threshold = 0.5)
    }, Some(
      s"""WITH docs AS (
         |  SELECT lang || '/' || source AS block, CAST(doc_id AS BIGINT) AS id,
         |         $shinglesSql AS sh
         |  FROM documents)
         |SELECT a.block, a.id AS id_a, b.id AS id_b,
         |       CAST(len(a.sh) AS BIGINT) AS n_a, CAST(len(b.sh) AS BIGINT) AS n_b,
         |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |         / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) AS containment
         |FROM docs a JOIN docs b ON a.block = b.block AND a.id < b.id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) >= 0.5""".stripMargin)),

    QueryDef("q242_interpolated_quantiles", (s, d) =>
      // percentile_cont in EXACT integer micro-units: interpolated price
      // quantiles per return flag, hash-comparable across engines (the
      // float percentile_cont is not) — the continuous sibling of q99's
      // percentile_disc.
      Stats.interpolatedQuantiles(table(s, d, "lineitem"), Seq("l_returnflag"),
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"),
        Seq(250, 500, 750, 900)),
      Some(
        """WITH c AS (
          |  SELECT l_returnflag,
          |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
          |         CAST(count(*) AS BIGINT) AS cnt
          |  FROM lineitem GROUP BY 1, 2),
          |w AS (
          |  SELECT l_returnflag, v, cnt,
          |         CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY v ASC) AS BIGINT) AS cum,
          |         CAST(sum(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
          |  FROM c),
          |p AS (
          |  SELECT l_returnflag, v, cnt, cum, tot, q.q AS q_mille,
          |         (q.q * (tot - 1)) // 1000 AS ip,
          |         (q.q * (tot - 1)) % 1000 AS rem
          |  FROM w, (VALUES (250), (500), (750), (900)) q(q)),
          |p2 AS (SELECT *, ip + CASE WHEN rem > 0 THEN 1 ELSE 0 END AS ip2 FROM p)
          |SELECT l_returnflag, CAST(q_mille AS INTEGER) AS q_mille,
          |       CAST(max(tot) AS BIGINT) AS n_values,
          |       CAST(max(CASE WHEN cum - cnt <= ip AND ip < cum THEN v END) * 1000000
          |            + max(rem) * (max(CASE WHEN cum - cnt <= ip2 AND ip2 < cum THEN v END)
          |                          - max(CASE WHEN cum - cnt <= ip AND ip < cum THEN v END)) * 1000
          |            AS BIGINT) AS value_micro
          |FROM p2
          |WHERE (cum - cnt <= ip AND ip < cum) OR (cum - cnt <= ip2 AND ip2 < cum)
          |GROUP BY 1, 2""".stripMargin)),

    QueryDef("q245_embedding_drift", (s, d) => {
      // drift family closer (q228 categorical, q230 numeric): per-label
      // centroid-direction cosine between two corpus slices, exact-operand
      // IEEE; label 7 removed from the live slice surfaces as NULL (the
      // novel/vanished-label contract).
      val emb = table(s, d, "embeddings")
      GenericTests.embeddingDrift(
        ref = emb.filter(col("vec_id") % 2 === 0),
        live = emb.filter(col("vec_id") % 2 === 1 && col("label") =!= 7),
        labelCol = "label", vecCol = "embedding")
    }, Some(
      s"""WITH q AS (
         |  SELECT vec_id, label, $qvecSql AS v FROM embeddings),
         |c AS (SELECT vec_id, label, i.i AS pos, v[i.i] AS x
         |      FROM q, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) i),
         |r AS (SELECT label, pos, CAST(sum(x) AS HUGEINT) AS s,
         |             CAST(count(x) AS BIGINT) AS n
         |      FROM c WHERE vec_id % 2 = 0 GROUP BY 1, 2),
         |l AS (SELECT label, pos, CAST(sum(x) AS HUGEINT) AS s,
         |             CAST(count(x) AS BIGINT) AS n
         |      FROM c WHERE vec_id % 2 = 1 AND label <> 7 GROUP BY 1, 2),
         |j AS (SELECT coalesce(r.label, l.label) AS label,
         |             r.s AS sr, l.s AS sl, r.n AS nr_c, l.n AS nl_c
         |      FROM r FULL OUTER JOIN l ON r.label = l.label AND r.pos = l.pos)
         |SELECT label, CAST(max(nr_c) AS BIGINT) AS n_ref,
         |       CAST(max(nl_c) AS BIGINT) AS n_live,
         |       CASE WHEN sum(sr * sr) > 0 AND sum(sl * sl) > 0
         |            THEN CAST(sum(sr * sl) AS DOUBLE)
         |               / (sqrt(CAST(sum(sr * sr) AS DOUBLE))
         |                  * sqrt(CAST(sum(sl * sl) AS DOUBLE))) END AS centroid_cos
         |FROM j GROUP BY 1""".stripMargin)),

    QueryDef("q248_clustering_coefficient", (s, d) => {
      // local clustering coefficient in exact ppm over the q148
      // pseudo-random graph: community tightness per node, degree-ordered
      // triangle pass + one degree rollup; degree < 2 -> NULL (no wedge).
      import graft.operators.Graph
      val docs = table(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      val raw = docs.select((col("doc_id") % 97).as("x"),
          ((col("doc_id") * 7 + 1) % 97).as("y"))
        .union(docs.select((col("doc_id") % 97).as("x"),
          ((col("doc_id") * 13 + 5) % 97).as("y")))
      Graph.clusteringCoefficients(raw, "x", "y")
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
        |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree
        |        FROM (SELECT u AS id FROM e UNION ALL SELECT v FROM e) t
        |        GROUP BY 1),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM e e1 JOIN e e2 ON e2.u = e1.v
        |                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |members AS (SELECT a AS id FROM tri UNION ALL
        |            SELECT b FROM tri UNION ALL SELECT c FROM tri),
        |counts AS (SELECT id, count(*) AS n FROM members GROUP BY id)
        |SELECT n.id AS node_id,
        |       CAST(coalesce(c.n, 0) AS BIGINT) AS n_triangles,
        |       d.degree,
        |       CAST(CASE WHEN d.degree >= 2
        |                 THEN (coalesce(c.n, 0) * 2000000) // (d.degree * (d.degree - 1))
        |            END AS BIGINT) AS clustering_ppm
        |FROM nodes n JOIN deg d ON d.id = n.id
        |LEFT JOIN counts c ON c.id = n.id""".stripMargin)),

    QueryDef("q249_basket_affinity", (s, d) =>
      // co-purchase lift over order baskets: part pairs sharing >= 2
      // orders, exact-integer lift (q221's collocation recipe on
      // transactions) — the cross-sell signal.
      Features.basketPairs(table(s, d, "lineitem"),
        col("l_orderkey").cast("long"), col("l_partkey").cast("long"),
        minSupport = 2),
      Some(
        """WITH items AS (
          |  SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS basket,
          |                  CAST(l_partkey AS BIGINT) AS item
          |  FROM lineitem),
          |n AS (SELECT CAST(count(DISTINCT basket) AS HUGEINT) AS n_baskets FROM items),
          |m AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM items GROUP BY 1),
          |p AS (
          |  SELECT a.item AS item_a, b.item AS item_b, CAST(count(*) AS BIGINT) AS n_both
          |  FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
          |  GROUP BY 1, 2 HAVING count(*) >= 2)
          |SELECT item_a, item_b, n_both, ma.n_item AS n_a, mb.n_item AS n_b,
          |       CAST((CAST(n_both AS HUGEINT) * n_baskets * 1000)
          |            // (CAST(ma.n_item AS HUGEINT) * mb.n_item) AS BIGINT) AS lift_milli
          |FROM p JOIN m ma ON ma.item = p.item_a
          |       JOIN m mb ON mb.item = p.item_b
          |CROSS JOIN n""".stripMargin)),

    QueryDef("q253_rolling_corr", (s, d) => {
      // trailing-7-day correlation between daily view and click volume per
      // user cohort: the "are these metrics still coupled" drift signal.
      // Exact moment sums over one RANGE frame, one IEEE expression per row.
      val daily = events(s, d)
        .groupBy((col("user_id") % 4).as("cohort"),
          unix_date(to_date(col("ts"))).cast("long").as("day"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("y"))
      Features.rollingCorr(daily, Seq("cohort"), col("day"), col("x"),
        col("y"), windowDays = 7)
    }, Some(
      """WITH daily AS (
        |  SELECT user_id % 4 AS cohort,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT cohort, day, x, y,
        |         CAST(count(*) OVER fr AS BIGINT) AS n,
        |         CAST(sum(x) OVER fr AS BIGINT) AS sx,
        |         CAST(sum(y) OVER fr AS BIGINT) AS sy,
        |         CAST(sum(x * x) OVER fr AS BIGINT) AS sxx,
        |         CAST(sum(y * y) OVER fr AS BIGINT) AS syy,
        |         CAST(sum(x * y) OVER fr AS BIGINT) AS sxy
        |  FROM daily
        |  WINDOW fr AS (PARTITION BY cohort ORDER BY day
        |                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT cohort, day, x, y, n AS n_days,
        |       CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
        |            THEN CAST(n*sxy - sx*sy AS DOUBLE)
        |               / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
        |                  * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) END AS corr
        |FROM w""".stripMargin)),

    QueryDef("q254_standardize", (s, d) =>
      // per-returnflag z-scores of quantity from exact sample moments —
      // the feature-scaling step with bit-stable doubles (builtin stddev
      // is partitioning-dependent).
      Features.standardize(
        table(s, d, "lineitem").select(col("l_orderkey").cast("long").as("k"),
          col("l_linenumber").cast("long").as("ln"), col("l_returnflag"),
          col("l_quantity").cast("long").as("qty")),
        Seq("l_returnflag"), col("qty")),
      Some(
        """WITH m AS (
          |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
          |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
          |         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS ss
          |  FROM lineitem GROUP BY 1)
          |SELECT CAST(l.l_orderkey AS BIGINT) AS k,
          |       CAST(l.l_linenumber AS BIGINT) AS ln,
          |       l.l_returnflag,
          |       CAST(l.l_quantity AS BIGINT) AS qty,
          |       CASE WHEN m.n > 1 AND m.n*m.ss - m.s*m.s > 0
          |            THEN CAST(CAST(l.l_quantity AS BIGINT)*m.n - m.s AS DOUBLE)
          |               / sqrt(CAST(m.n*(m.n*m.ss - m.s*m.s) AS DOUBLE)
          |                      / CAST(m.n - 1 AS DOUBLE)) END AS z
          |FROM lineitem l JOIN m USING (l_returnflag)""".stripMargin)),

    QueryDef("q255_session_window", (s, d) =>
      // Spark's NATIVE session_window aggregate (the SessionWindow
      // Catalyst operator — merging variable-length windows per key in one
      // agg, no lag-cumsum window chain): 30-minute-gap sessions per user
      // with exact event counts and value cents. Oracle re-derives the
      // islands with the q23 lag-cumsum recipe — two independent
      // constructions of the same sessionization.
      events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("cents"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("n_events"), col("cents")),
      Some(
        """WITH o AS (
          |  SELECT user_id, ts,
          |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
          |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          |  FROM events),
          |m AS (
          |  SELECT user_id, ts, c,
          |         CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
          |              THEN 1 ELSE 0 END AS new_s
          |  FROM o),
          |sess AS (
          |  SELECT user_id, ts, c,
          |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
          |                          ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM m)
          |SELECT user_id, min(ts) AS session_start,
          |       CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(sum(c) AS BIGINT) AS cents
          |FROM sess GROUP BY user_id, sid""".stripMargin)),

    QueryDef("q257_locf", (s, d) =>
      // last-observation-carried-forward: every event row carries the most
      // recent purchase value in its cohort — sparse state reconstruction
      // before per-row computation; pre-first-observation rows stay NULL.
      Stats.locf(
        events(s, d).select((col("user_id") % 4).as("cohort"), col("ts"),
          col("event_id"),
          when(col("event_type") === "purchase",
            floor(col("value") * 1000 + lit(0.5)).cast("long")).as("vm")),
        Seq("cohort"), col("ts"), col("event_id"), col("vm"))
        .select(col("event_id"), col("cohort"), col("vm"), col("filled")),
      Some(
        """SELECT event_id, user_id % 4 AS cohort,
          |       CASE WHEN event_type = 'purchase'
          |            THEN CAST(floor(value * 1000 + 0.5) AS BIGINT) END AS vm,
          |       last_value(CASE WHEN event_type = 'purchase'
          |                       THEN CAST(floor(value * 1000 + 0.5) AS BIGINT) END
          |                  IGNORE NULLS)
          |         OVER (PARTITION BY user_id % 4 ORDER BY ts ASC, event_id ASC
          |               ROWS UNBOUNDED PRECEDING) AS filled
          |FROM events""".stripMargin)),

    QueryDef("q258_cumulative_metric", (s, d) => {
      // MetricFlow cumulative metric: running revenue-to-date by month and
      // status from the same declared metric q256 renders period-wise.
      import graft.engine.{Model, Registry, ViewMat}
      val wh = Scratch.warehouse("q258", d, s, Seq.empty)
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
      reg.queryMetricCumulative("revenue", "month", Seq("status"))
    }, Some(
      """WITH m AS (
        |  SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS period,
        |         o_orderstatus AS status,
        |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value
        |  FROM orders GROUP BY 1, 2)
        |SELECT period, status, value,
        |       CAST(sum(value) OVER (PARTITION BY status ORDER BY period ASC
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |         AS cumulative_value
        |FROM m""".stripMargin)),

    QueryDef("q260_funnel_significance", (s, d) => {
      // funnel drop-off significance: per adjacent step pair, the
      // two-proportion z between this step's conversion and the NEXT
      // step's (q104's funnel counts through q229's exact-operand z) —
      // "is the step-2 drop real or noise". One bounded rollup of the
      // funnel relation, z in three IEEE steps over DECIMAL products.
      val reached = graft.operators.EventAnalytics.funnel(
        events(s, d), Seq("view", "click", "purchase"))
      val counts = reached.agg(
        count(lit(1)).as("n0"),
        sum(when(col("reached") >= 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("reached") >= 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("reached") >= 3, 1L).otherwise(0L)).as("n3"))
      counts.select(explode(array(
        struct(lit(1).as("step"), col("n0").as("n_prev"), col("n1").as("n_at"),
          col("n1").as("c1"), col("n2").as("c2")),
        struct(lit(2).as("step"), col("n1").as("n_prev"), col("n2").as("n_at"),
          col("n2").as("c1"), col("n3").as("c2")))).as("t"))
        .select(col("t.step"), col("t.n_prev"), col("t.n_at"),
          Features.twoProportionZ(col("t.n_prev"), col("t.c1"),
            col("t.n_at"), col("t.c2")).as("z_next_drop"))
    }, Some(
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1),
        |c AS (SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS n0,
        |             (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
        |             (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2,
        |             (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n3),
        |p AS (SELECT 1 AS step, n0 AS n_prev, n1 AS n_at, n1 AS c1, n2 AS c2 FROM c
        |      UNION ALL
        |      SELECT 2 AS step, n1 AS n_prev, n2 AS n_at, n2 AS c1, n3 AS c2 FROM c)
        |SELECT step, n_prev, n_at,
        |       CASE WHEN n_prev > 0 AND n_at > 0 AND c1 + c2 > 0
        |                 AND c1 + c2 < n_prev + n_at
        |            THEN CAST(CAST(c1 AS HUGEINT) * n_at - CAST(c2 AS HUGEINT) * n_prev AS DOUBLE)
        |               / sqrt(CAST(CAST(c1 + c2 AS HUGEINT) * (n_prev + n_at - c1 - c2)
        |                           * n_prev * n_at AS DOUBLE)
        |                      / CAST(n_prev + n_at AS DOUBLE)) END AS z_next_drop
        |FROM p""".stripMargin)),

    QueryDef("q243_damerau_match", (s, d) => {
      // transposition-tolerant fuzzy probe match via the codegen'd TRUE
      // Damerau-Levenshtein expression ('CA'->'ABC' = 2; a swapped pair
      // costs 1 where plain levenshtein charges 2 — the keyboard-typo edit
      // model). Every 500th part name with chars 5/6 swapped probes the
      // catalog at distance <= 2; the whole part corpus x probe sweep is a
      // randomized per-cell parity check against DuckDB's builtin.
      // DamerauLengthPrune (installed by GraftSession): dl <= 2 implies
      // |len diff| <= 2, prepended by the optimizer — result-identical,
      // oracle unchanged.
      val probes = table(s, d, "part")
        .filter(pmod(col("p_partkey"), lit(500)) === 0)
        .select(col("p_partkey").as("probe_key"),
          concat(substring(col("p_name"), 1, 4),
            substring(col("p_name"), 6, 1), substring(col("p_name"), 5, 1),
            expr("substring(p_name, 7)")).as("probe_name"))
      val dl = graft.plans.Expressions.damerauLevenshtein(
        col("probe_name"), col("p_name"))
      table(s, d, "part").crossJoin(broadcast(probes))
        .select(col("probe_key"), col("p_partkey").as("match_key"),
          dl.as("dl"))
        .filter(col("dl") <= 2)
    }, Some(
      """WITH pr AS (
        |  SELECT p_partkey AS probe_key,
        |         substr(p_name, 1, 4) || substr(p_name, 6, 1)
        |           || substr(p_name, 5, 1) || substr(p_name, 7) AS probe_name
        |  FROM part WHERE p_partkey % 500 = 0)
        |SELECT pr.probe_key, p.p_partkey AS match_key,
        |       CAST(damerau_levenshtein(pr.probe_name, p.p_name) AS INTEGER) AS dl
        |FROM pr, part p
        |WHERE damerau_levenshtein(pr.probe_name, p.p_name) <= 2""".stripMargin)),

    QueryDef("q386_classifier_eval", (s, d) => {
      // grade the q239 weak labeler against the held-out truth: per-class
      // one-vs-rest confusion + precision/recall/F1 in exact ppm (F1 as
      // ONE division), plus the __macro (zero_division=0) and __micro rows
      val emb = table(s, d, "embeddings")
      val preds = Similarity.knnClassify(
        corpus = emb.filter(col("vec_id") % 10 =!= 0),
        queries = emb.filter(col("vec_id") % 10 === 0), k = 5)
      graft.pipeline.Inference.classifierEval(
        preds.join(emb.select(col("vec_id").cast("long").as("query_id"),
          col("label").cast("long").as("true_label")), Seq("query_id")),
        col("predicted_label"), col("true_label"))
    }, Some(
      s"""WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, $qvecSql AS qv
         |           FROM embeddings WHERE vec_id % 10 = 0),
         |c AS (SELECT CAST(vec_id AS BIGINT) AS neighbor_id,
         |             CAST(label AS BIGINT) AS lbl, $qvecSql AS cv
         |      FROM embeddings WHERE vec_id % 10 <> 0),
         |topk AS (SELECT query_id, lbl FROM (
         |           SELECT q.query_id, c.lbl, c.neighbor_id,
         |                  row_number() OVER (PARTITION BY q.query_id
         |                    ORDER BY ${cosSql("q.qv", "c.cv")} DESC, c.neighbor_id ASC) AS rn
         |           FROM c, q) t WHERE rn <= 5),
         |v AS (SELECT query_id, lbl, CAST(count(*) AS BIGINT) AS votes
         |      FROM topk GROUP BY 1, 2),
         |pred AS (SELECT query_id, lbl AS p FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY votes DESC, lbl ASC) AS rn FROM v) t WHERE rn = 1),
         |pt AS (SELECT pr.p, CAST(e.label AS BIGINT) AS tr
         |       FROM pred pr JOIN embeddings e
         |         ON CAST(e.vec_id AS BIGINT) = pr.query_id),
         |cm AS (SELECT p, tr, CAST(count(*) AS BIGINT) AS n
         |       FROM pt GROUP BY 1, 2),
         |cls AS (SELECT DISTINCT p AS cls FROM cm
         |        UNION SELECT DISTINCT tr FROM cm),
         |pc AS (SELECT CAST(cls.cls AS VARCHAR) AS label,
         |          CAST(coalesce((SELECT sum(n) FROM cm
         |            WHERE p = cls.cls AND tr = cls.cls), 0) AS BIGINT) AS tp,
         |          CAST(coalesce((SELECT sum(n) FROM cm WHERE p = cls.cls), 0)
         |            - coalesce((SELECT sum(n) FROM cm
         |                WHERE p = cls.cls AND tr = cls.cls), 0) AS BIGINT)
         |            AS fp,
         |          CAST(coalesce((SELECT sum(n) FROM cm WHERE tr = cls.cls), 0)
         |            - coalesce((SELECT sum(n) FROM cm
         |                WHERE p = cls.cls AND tr = cls.cls), 0) AS BIGINT)
         |            AS fn
         |       FROM cls),
         |pm AS (SELECT *,
         |         CASE WHEN tp + fp > 0
         |              THEN (tp * 1000000) // (tp + fp) END AS precision_ppm,
         |         CASE WHEN tp + fn > 0
         |              THEN (tp * 1000000) // (tp + fn) END AS recall_ppm,
         |         CASE WHEN tp * 2 + fp + fn > 0
         |              THEN (tp * 2000000) // (tp * 2 + fp + fn)
         |         END AS f1_ppm
         |       FROM pc)
         |SELECT label, tp, fp, fn, precision_ppm, recall_ppm, f1_ppm FROM pm
         |UNION ALL
         |SELECT '__macro', CAST(sum(tp) AS BIGINT), CAST(sum(fp) AS BIGINT),
         |       CAST(sum(fn) AS BIGINT),
         |       CAST(sum(coalesce(precision_ppm, 0)) AS BIGINT)
         |         // CAST(count(*) AS BIGINT),
         |       CAST(sum(coalesce(recall_ppm, 0)) AS BIGINT)
         |         // CAST(count(*) AS BIGINT),
         |       CAST(sum(coalesce(f1_ppm, 0)) AS BIGINT)
         |         // CAST(count(*) AS BIGINT)
         |FROM pm
         |UNION ALL
         |SELECT '__micro', CAST(sum(tp) AS BIGINT), CAST(sum(fp) AS BIGINT),
         |       CAST(sum(fn) AS BIGINT),
         |       CASE WHEN sum(tp) + sum(fp) > 0
         |            THEN CAST((CAST(sum(tp) AS BIGINT) * 1000000)
         |                 // CAST(sum(tp) + sum(fp) AS BIGINT) AS BIGINT) END,
         |       CASE WHEN sum(tp) + sum(fn) > 0
         |            THEN CAST((CAST(sum(tp) AS BIGINT) * 1000000)
         |                 // CAST(sum(tp) + sum(fn) AS BIGINT) AS BIGINT) END,
         |       CASE WHEN sum(tp) * 2 + sum(fp) + sum(fn) > 0
         |            THEN CAST((CAST(sum(tp) AS BIGINT) * 2000000)
         |                 // CAST(sum(tp) * 2 + sum(fp) + sum(fn) AS BIGINT)
         |                 AS BIGINT) END
         |FROM pm""".stripMargin
    )),

    QueryDef("q239_knn_classify", (s, d) => {
      // kNN majority-vote weak labeling: every 10th vector held out and
      // labeled by its 5 nearest labeled neighbors (plurality, min-label
      // tie-break).
      val emb = table(s, d, "embeddings")
      Similarity.knnClassify(
        corpus = emb.filter(col("vec_id") % 10 =!= 0),
        queries = emb.filter(col("vec_id") % 10 === 0), k = 5)
    }, Some(
      s"""WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, $qvecSql AS qv
         |           FROM embeddings WHERE vec_id % 10 = 0),
         |c AS (SELECT CAST(vec_id AS BIGINT) AS neighbor_id,
         |             CAST(label AS BIGINT) AS lbl, $qvecSql AS cv
         |      FROM embeddings WHERE vec_id % 10 <> 0),
         |topk AS (SELECT query_id, lbl FROM (
         |           SELECT q.query_id, c.lbl, c.neighbor_id,
         |                  row_number() OVER (PARTITION BY q.query_id
         |                    ORDER BY ${cosSql("q.qv", "c.cv")} DESC, c.neighbor_id ASC) AS rn
         |           FROM c, q) t WHERE rn <= 5),
         |v AS (SELECT query_id, lbl, CAST(count(*) AS BIGINT) AS votes
         |      FROM topk GROUP BY 1, 2)
         |SELECT query_id, lbl AS predicted_label, votes
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY votes DESC, lbl ASC) AS rn FROM v) t
         |WHERE rn = 1""".stripMargin)),

    QueryDef("q403_nprobe_sweep", (s, d) => {
      // the IVF tuning curve: recall@5 vs nProbe in {1,2,4} against the
      // pinned brute-force truth — the how-many-cells-to-probe decision
      // an index rollout is gated on. Each sweep point re-runs the
      // ivfTopK recipe (at production scale you pin the one-scan
      // (id, cell) assignment instead — the q272 IVF-PQ shape); the
      // ground truth IS pinned across all three points.
      val emb = table(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(emb, q, k = 5)
        .pinLazy()
      Seq(1, 2, 4).map { np =>
        Similarity.recallAtK(exact,
          Similarity.ivfTopK(emb, q, k = 5, nCentroids = 8, nProbe = np),
          k = 5)
          .agg(count(lit(1)).as("n_queries"), sum(col("n_hits")).as("n_hits"))
          .withColumn("nprobe", lit(np.toLong))
      }.reduce(_ unionByName _)
        .select(col("nprobe"), col("n_queries"), col("n_hits"),
          call_function("div", col("n_hits") * 1000000L,
            col("n_queries") * 5L).as("recall_ppm"))
    }, Some {
      def block(np: Int): String =
        s"""p$np AS (
           |  SELECT id AS query_id, v AS qv, cent_id FROM (
           |    SELECT e.id, e.v, c.cent_id,
           |           row_number() OVER (PARTITION BY e.id
           |             ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cent_id ASC) AS rn
           |    FROM e, cent c WHERE e.id < 50) t WHERE rn <= $np),
           |t$np AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT p.query_id, a.id AS neighbor_id,
           |           row_number() OVER (PARTITION BY p.query_id
           |             ORDER BY ${cosSql("p.qv", "a.v")} DESC, a.id ASC) AS rank
           |    FROM asg a JOIN p$np p ON a.cent_id = p.cent_id
           |    WHERE a.id <> p.query_id) t WHERE rank <= 5),
           |h$np AS (SELECT CAST($np AS BIGINT) AS nprobe,
           |                CAST(count(*) AS BIGINT) AS n_hits
           |         FROM bt JOIN t$np USING (query_id, neighbor_id))""".stripMargin
      s"""WITH e AS (SELECT CAST(vec_id AS BIGINT) AS id, $qvecSql AS v
         |           FROM embeddings),
         |cent AS (SELECT id AS cent_id, v AS cv FROM e ORDER BY id LIMIT 8),
         |asg AS (
         |  SELECT id, v, cent_id FROM (
         |    SELECT e.id, e.v, c.cent_id,
         |           row_number() OVER (PARTITION BY e.id
         |             ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cent_id ASC) AS rn
         |    FROM e, cent c) t WHERE rn = 1),
         |bt AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.id AS query_id, c.id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.id
         |             ORDER BY ${cosSql("q.v", "c.v")} DESC, c.id ASC) AS rn
         |    FROM e c, e q WHERE q.id < 50 AND c.id <> q.id) t WHERE rn <= 5),
         |nq AS (SELECT CAST(count(DISTINCT id) AS BIGINT) AS n_queries
         |       FROM e WHERE id < 50),
         |${block(1)},
         |${block(2)},
         |${block(4)}
         |SELECT h.nprobe, nq.n_queries, h.n_hits,
         |       CAST(CAST(h.n_hits AS HUGEINT) * 1000000
         |            // (nq.n_queries * 5) AS BIGINT) AS recall_ppm
         |FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2
         |      UNION ALL SELECT * FROM h4) h, nq""".stripMargin
    }))
}
