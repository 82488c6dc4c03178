package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources.{events, table}
import graft.engine.Pin.PinOps

/** Round-14 battery (VERDICT r13 next-round list): the weighted
  * mergeable sample (weighted KMV registers composed with the period
  * layout), the five-law drift panel over ONE k-compressed stored
  * baseline with declared distortion envelopes, and the manifest-aware
  * Registry ref. Exact integer arithmetic and verbatim oracle replay
  * throughout (the Round12/13Queries discipline).
  */
object Round14Queries extends QuerySet {

  val all: Seq[QueryDef] = Seq(

    QueryDef("q471_weighted_kmv_sample", (s, d) => {
      // the WEIGHTED rolling sample (Sketches.kmvWeightedRegisters —
      // VERDICT r13 #2): proportional-to-weight corpus sampling as a
      // register table the period layout can maintain. Each day's
      // partition stores the day's bottom-16 over the weight-replicated
      // multiset (id of integer weight w owns w deterministic md5
      // sub-keys — P(id owns the smallest key) = w/sum(w) EXACTLY, no
      // u^(1/w) floats, so the DuckDB oracle replays the order statistic
      // digit for digit); "a weight-proportional sample of the trailing
      // week" is kmvWeightedMerge over readPeriodRange — out-of-window
      // dirs never listed, and the merge law makes the result exactly
      // the bottom-16 of the window's replicated multiset, so the
      // whole-window replay IS the oracle. The same registers feed the
      // (k-1)/U(k) estimator, which here reads the window's TOTAL
      // WEIGHT (distinct sub-items = sum of weights over distinct ids):
      // observed at sf0.01 est 4465 vs exact 5875 (weights id%4+1) —
      // -24%, just inside the 1/sqrt(k-2) ~ 27% one-sigma envelope at
      // k=16 (the deterministic md5 draw landed deep; k=256 callers get
      // 6%); sampled weights lean heavy as proportional sampling must
      // (avg 2.94 vs corpus 2.5), value-inspected.
      import graft.functions.Sketches
      val wh = Scratch.warehouse("q471", d, s, Seq("day_wsample"))
      val ev = events(s, d)
        .select(col("ts").cast("date").cast("string").as("p"),
          col("event_id").cast("long").as("id"))
      wh.writeSwap("day_wsample",
        Sketches.kmvWeightedRegisters(ev, Seq("p"), col("id"),
          col("id") % 4L + 1L, 16),
        partitionBy = Seq("p"))
      val win = Sketches.kmvWeightedMerge(
        wh.readPeriodRange("day_wsample", "2024-01-16", "2024-01-22"),
        Nil, 16)
        .pinLazy() // feeds the sample rows AND the estimator
      val est = Sketches.kmvDistinctEstimate(win.drop("kmv_w"), Nil, 16)
        .select(col("n_regs"), col("est_distinct").as("est_total_weight"))
      val exact = ev
        .filter(col("p") >= "2024-01-16" && col("p") <= "2024-01-22")
        .select(col("id")).distinct()
        .agg(sum(col("id") % 4L + 1L).cast("long").as("exact_total_weight"))
      win.crossJoin(est).crossJoin(exact)
    }, Some(
      """WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |                  CAST(event_id AS BIGINT) AS id FROM events),
        |d AS (SELECT DISTINCT id FROM e
        |      WHERE day >= DATE '2024-01-16' AND day <= DATE '2024-01-22'),
        |w AS (SELECT id, id % 4 + 1 AS wt FROM d),
        |s AS (SELECT md5(CAST(id AS VARCHAR) || '#' || CAST(j AS VARCHAR))
        |               AS kmv_key,
        |             CAST(id AS VARCHAR) AS kmv_id,
        |             CAST(wt AS BIGINT) AS kmv_w
        |      FROM (SELECT id, wt, unnest(range(0, CAST(wt AS BIGINT))) AS j
        |            FROM w) t),
        |r AS (SELECT kmv_key, kmv_id, kmv_w,
        |             row_number() OVER (ORDER BY kmv_key, kmv_id) AS rn
        |      FROM s),
        |k AS (SELECT kmv_key, kmv_id, kmv_w FROM r WHERE rn <= 16),
        |est AS (SELECT CAST(count(*) AS BIGINT) AS n_regs,
        |               max(kmv_key) AS kth FROM k),
        |e2 AS (SELECT n_regs,
        |              CASE WHEN n_regs < 16 THEN n_regs
        |                   ELSE CAST((CAST(15 AS HUGEINT) * 1152921504606846976)
        |                             // CAST(concat('0x', substr(kth, 1, 15))
        |                                  AS BIGINT) AS BIGINT)
        |              END AS est_total_weight
        |       FROM est),
        |x AS (SELECT CAST(sum(wt) AS BIGINT) AS exact_total_weight FROM w)
        |SELECT k.kmv_key, k.kmv_id, k.kmv_w, e2.n_regs,
        |       e2.est_total_weight, x.exact_total_weight
        |FROM k, e2, x""".stripMargin)),

    QueryDef("q472_compressed_panel", (s, d) => {
      // the FIVE-LAW panel over ONE k-compressed stored baseline
      // (VERDICT r13 #3): q450 proved the compressed-baseline envelope
      // for KS only; W1/TVD/chi2/TD read exact registers today. At 100 TB
      // the stored baseline is the k=256 qsCompress summary — this query
      // states and observes the distortion envelope PER LAW against that
      // one summary. The laws split by what compression preserves:
      //  - KS/W1 read the summary's CDF, whose kept cumulative ranks are
      //    EXACT and whose between-kept-points gap mass is < stride
      //    s = ceil(W/k) — so |F_comp - F_exact| < s/W pointwise, giving
      //    |d_ppm| within ceil(s*1e6/W)+1 (the q450 bound) and
      //    |w1_micro| within ceil(s*span*1e6/W)+1 (the sup-norm bound
      //    integrated over the union support span).
      //  - the categorical trio is scored on the BUCKETING the summary
      //    defines (live value -> smallest kept value >= it; above-max
      //    overflow = its own fresh category): each compressed register's
      //    telescoped weight IS the exact baseline mass of its bucket, so
      //    the bucketed statistics are EXACT statistics of the coarsened
      //    pair, and coarsening can only lose distance — TVD is an L1
      //    coarsening (monotone outright), TD is an f-divergence
      //    (monotone), chi2 is monotone by Cauchy-Schwarz on the
      //    (D_j = ca*n_b - cb*n_a) cell identity — so each bucketed score
      //    must sit at or under its exact sibling (+ n_cats slack for the
      //    per-term truncating divisions chi2/TD sum). Observed at
      //    sf0.01 (value-inspected, W=6682, s=27, all five flags 1):
      //    KS 58048 exact vs 60388 compressed (gap 2340 <= bound 4042);
      //    W1 332.7M vs 387.4M micro (gap 54.7M <= bound 149.8M =
      //    s*span/W with span 37070 cents); TVD 968422 raw-value-grain
      //    (5165 near-distinct categories vs n_b=345 — value-grain TVD
      //    saturates by construction) vs 341920 on the 248-bucket grid;
      //    chi2 5188545 -> 219093 milli; TD 1880432 -> 378498 ppm. Every
      //    flag is computed in-plan from exact integers and replayed by
      //    the oracle.
      import graft.functions.QuantileSketch
      import graft.pipeline.Inference
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val ev = events(s, d)
        .filter(col("value").isNotNull)
        .select(col("ts").cast("date").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val base = QuantileSketch.qsRegisters(
        ev.filter(col("day") < lit("2024-01-21").cast("date")),
        Nil, col("cents"))
        .pinLazy() // feeds 6 scorers + the compressor + spans
      val comp = QuantileSketch.qsCompress(base, Nil, k = 256)
        .pinLazy() // feeds 5 scorers + the bucket grid
      val night = QuantileSketch.qsRegisters(
        ev.filter(col("day") === lit("2024-01-25").cast("date")),
        Nil, col("cents"))
        .pinLazy() // feeds every scorer + the bucketing
      // live values onto the summary's grid: smallest kept value >= v,
      // overflow past the kept max becomes its own fresh category (the
      // baseline holds zero mass there — full-mass signal preserved)
      val grid = comp.select(col("qs_value").as("gv"))
      val gmax = comp.agg(max(col("qs_value")).as("gmax"))
      val nb = night
        .join(broadcast(grid), col("gv") >= col("qs_value"), "left")
        .groupBy(col("qs_value"), col("qs_weight"))
        .agg(min(col("gv")).as("b"))
        .crossJoin(broadcast(gmax))
        .select(coalesce(col("b"), col("gmax") + 1L).as("qs_value"),
          col("qs_weight"))
        .groupBy(col("qs_value"))
        .agg(sum(col("qs_weight")).as("qs_weight"))
      val ksE = Inference.ksFromRegisters(base, night)
        .select(col("n_a"), col("n_b"), col("d_ppm").as("d_ppm_exact"))
      val ksC = Inference.ksFromRegisters(comp, night)
        .select(col("d_ppm").as("d_ppm_comp"))
      val w1E = Inference.w1FromRegisters(base, night)
        .select(col("w1_micro").as("w1_exact"))
      val w1C = Inference.w1FromRegisters(comp, night)
        .select(col("w1_micro").as("w1_comp"))
      val tvE = Inference.tvdFromRegisters(base, night)
        .select(col("n_cats").as("n_cats_exact"), col("tv_ppm").as("tv_exact"))
      val tvB = Inference.tvdFromRegisters(comp, nb)
        .select(col("n_cats").as("n_cats_bucketed"),
          col("tv_ppm").as("tv_bucketed"))
      val c2E = Inference.chi2FromRegisters(base, night)
        .select(col("chi2_milli").as("chi2_exact"))
      val c2B = Inference.chi2FromRegisters(comp, nb)
        .select(col("chi2_milli").as("chi2_bucketed"))
      val tdE = Inference.tdFromRegisters(base, night)
        .select(col("td_ppm").as("td_exact"))
      val tdB = Inference.tdFromRegisters(comp, nb)
        .select(col("td_ppm").as("td_bucketed"))
      val spanDf = base.select(col("qs_value"))
        .unionByName(night.select(col("qs_value")))
        .agg((max(col("qs_value")) - min(col("qs_value"))).as("span"))
      ksE.crossJoin(ksC).crossJoin(w1E).crossJoin(w1C)
        .crossJoin(tvE).crossJoin(tvB).crossJoin(c2E).crossJoin(c2B)
        .crossJoin(tdE).crossJoin(tdB).crossJoin(spanDf)
        .withColumn("stride_s",
          call_function("div", col("n_a") + 255L, lit(256L)))
        .withColumn("ks_bound_ppm",
          call_function("div",
            col("stride_s") * 1000000L + col("n_a") - 1L, col("n_a")) + 1L)
        .withColumn("ks_within",
          (abs(col("d_ppm_comp") - col("d_ppm_exact")) <= col("ks_bound_ppm"))
            .cast("long"))
        .withColumn("w1_bound_micro",
          call_function("div",
            dec(col("stride_s")) * col("span") * lit(1000000L)
              + col("n_a") - 1L, dec(col("n_a"))).cast("long") + 1L)
        .withColumn("w1_within",
          (abs(col("w1_comp") - col("w1_exact")) <= col("w1_bound_micro"))
            .cast("long"))
        .withColumn("tv_mono",
          (col("tv_bucketed") <= col("tv_exact")).cast("long"))
        // chi2 sums TWO truncating divisions per category (the a-side and
        // b-side terms), so the floor-vs-real slack is 2*n_cats millis;
        // TD sums one per category — n_cats ppm
        .withColumn("chi2_mono",
          (col("chi2_bucketed") <= col("chi2_exact") + col("n_cats_exact") * 2L)
            .cast("long"))
        .withColumn("td_mono",
          (col("td_bucketed") <= col("td_exact") + col("n_cats_exact"))
            .cast("long"))
    }, Some(
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |a AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS w
        |      FROM e WHERE day < DATE '2024-01-21' GROUP BY 1),
        |ngt AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS w
        |        FROM e WHERE day = DATE '2024-01-25' GROUP BY 1),
        |cb AS (SELECT v, w, sum(w) OVER (ORDER BY v) AS cum,
        |              sum(w) OVER () AS tot FROM a),
        |kb AS (SELECT v, cum - coalesce(lag(cum) OVER (ORDER BY v), 0) AS w
        |       FROM (SELECT v, cum
        |             FROM cb
        |             WHERE (cum // ((tot + 255) // 256))
        |                     > ((cum - w) // ((tot + 255) // 256))
        |                OR cum = tot) t),
        |mx AS (SELECT max(v) AS gmax FROM kb),
        |nbm AS (SELECT n.v AS v0, n.w, min(k.v) AS b
        |        FROM ngt n LEFT JOIN kb k ON k.v >= n.v GROUP BY 1, 2),
        |nb AS (SELECT coalesce(b, mx.gmax + 1) AS v,
        |              CAST(sum(w) AS BIGINT) AS w
        |       FROM nbm, mx GROUP BY 1),
        |uE AS (SELECT v, CAST(sum(ca) AS BIGINT) AS ca,
        |              CAST(sum(cb2) AS BIGINT) AS cb2
        |       FROM (SELECT v, w AS ca, 0 AS cb2 FROM a
        |             UNION ALL SELECT v, 0, w FROM ngt) t
        |       GROUP BY 1 HAVING sum(ca) + sum(cb2) > 0),
        |uC AS (SELECT v, CAST(sum(ca) AS BIGINT) AS ca,
        |              CAST(sum(cb2) AS BIGINT) AS cb2
        |       FROM (SELECT v, w AS ca, 0 AS cb2 FROM kb
        |             UNION ALL SELECT v, 0, w FROM ngt) t
        |       GROUP BY 1 HAVING sum(ca) + sum(cb2) > 0),
        |uB AS (SELECT v, CAST(sum(ca) AS BIGINT) AS ca,
        |              CAST(sum(cb2) AS BIGINT) AS cb2
        |       FROM (SELECT v, w AS ca, 0 AS cb2 FROM kb
        |             UNION ALL SELECT v, 0, w FROM nb) t
        |       GROUP BY 1 HAVING sum(ca) + sum(cb2) > 0),
        |sE AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cum_a,
        |              sum(cb2) OVER (ORDER BY v) AS cum_b,
        |              lead(v) OVER (ORDER BY v) AS nv,
        |              sum(ca) OVER () AS n_a, sum(cb2) OVER () AS n_b
        |       FROM uE),
        |sC AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cum_a,
        |              sum(cb2) OVER (ORDER BY v) AS cum_b,
        |              lead(v) OVER (ORDER BY v) AS nv,
        |              sum(ca) OVER () AS n_a, sum(cb2) OVER () AS n_b
        |       FROM uC),
        |dE AS (SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |              CAST((CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
        |                                - CAST(cum_b AS HUGEINT) * n_a))
        |                         AS HUGEINT) * 1000000)
        |                   // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
        |                AS d_ppm_exact
        |       FROM sE GROUP BY n_a, n_b),
        |dC AS (SELECT CAST((CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
        |                                - CAST(cum_b AS HUGEINT) * n_a))
        |                         AS HUGEINT) * 1000000)
        |                   // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
        |                AS d_ppm_comp
        |       FROM sC GROUP BY n_a, n_b),
        |wE AS (SELECT CAST((coalesce(sum(abs(CAST(cum_a AS HUGEINT) * n_b
        |                                     - CAST(cum_b AS HUGEINT) * n_a)
        |                                 * (nv - v)), 0) * 1000000)
        |                   // (CAST(max(n_a) AS HUGEINT) * max(n_b))
        |                   AS BIGINT) AS w1_exact
        |       FROM sE WHERE nv IS NOT NULL),
        |wC AS (SELECT CAST((coalesce(sum(abs(CAST(cum_a AS HUGEINT) * n_b
        |                                     - CAST(cum_b AS HUGEINT) * n_a)
        |                                 * (nv - v)), 0) * 1000000)
        |                   // (CAST(max(n_a) AS HUGEINT) * max(n_b))
        |                   AS BIGINT) AS w1_comp
        |       FROM sC WHERE nv IS NOT NULL),
        |tE AS (SELECT CAST(count(*) AS BIGINT) AS n_cats_exact,
        |              CAST(sum(ca) AS BIGINT) AS na,
        |              CAST(sum(cb2) AS BIGINT) AS nb2 FROM uE),
        |tB AS (SELECT CAST(count(*) AS BIGINT) AS n_cats_bucketed,
        |              CAST(sum(ca) AS BIGINT) AS na,
        |              CAST(sum(cb2) AS BIGINT) AS nb2 FROM uB),
        |tvE AS (SELECT CAST((sum(abs(CAST(ca AS HUGEINT) * tE.nb2
        |                             - CAST(cb2 AS HUGEINT) * tE.na))
        |                     * 1000000)
        |                    // (2 * CAST(tE.na AS HUGEINT) * tE.nb2)
        |                    AS BIGINT) AS tv_exact
        |        FROM uE, tE GROUP BY tE.na, tE.nb2),
        |tvB AS (SELECT CAST((sum(abs(CAST(ca AS HUGEINT) * tB.nb2
        |                             - CAST(cb2 AS HUGEINT) * tB.na))
        |                     * 1000000)
        |                    // (2 * CAST(tB.na AS HUGEINT) * tB.nb2)
        |                    AS BIGINT) AS tv_bucketed
        |        FROM uB, tB GROUP BY tB.na, tB.nb2),
        |c2E AS (SELECT CAST(sum(
        |                 ((CAST(ca AS HUGEINT)*(na+nb2) - CAST(na AS HUGEINT)*(ca+cb2))
        |                  *(CAST(ca AS HUGEINT)*(na+nb2) - CAST(na AS HUGEINT)*(ca+cb2)) * 1000)
        |                 // (CAST(na+nb2 AS HUGEINT) * na * (ca+cb2))
        |               + ((CAST(cb2 AS HUGEINT)*(na+nb2) - CAST(nb2 AS HUGEINT)*(ca+cb2))
        |                  *(CAST(cb2 AS HUGEINT)*(na+nb2) - CAST(nb2 AS HUGEINT)*(ca+cb2)) * 1000)
        |                 // (CAST(na+nb2 AS HUGEINT) * nb2 * (ca+cb2))) AS BIGINT)
        |                 AS chi2_exact
        |        FROM uE, tE GROUP BY tE.na, tE.nb2),
        |c2B AS (SELECT CAST(sum(
        |                 ((CAST(ca AS HUGEINT)*(na+nb2) - CAST(na AS HUGEINT)*(ca+cb2))
        |                  *(CAST(ca AS HUGEINT)*(na+nb2) - CAST(na AS HUGEINT)*(ca+cb2)) * 1000)
        |                 // (CAST(na+nb2 AS HUGEINT) * na * (ca+cb2))
        |               + ((CAST(cb2 AS HUGEINT)*(na+nb2) - CAST(nb2 AS HUGEINT)*(ca+cb2))
        |                  *(CAST(cb2 AS HUGEINT)*(na+nb2) - CAST(nb2 AS HUGEINT)*(ca+cb2)) * 1000)
        |                 // (CAST(na+nb2 AS HUGEINT) * nb2 * (ca+cb2))) AS BIGINT)
        |                 AS chi2_bucketed
        |        FROM uB, tB GROUP BY tB.na, tB.nb2),
        |tdE AS (SELECT CAST(sum(
        |                 ((CAST(ca AS HUGEINT) * nb2 - CAST(cb2 AS HUGEINT) * na)
        |                  * (CAST(ca AS HUGEINT) * nb2 - CAST(cb2 AS HUGEINT) * na)
        |                  * 1000000)
        |                 // (CAST(na AS HUGEINT) * nb2
        |                    * (CAST(ca AS HUGEINT) * nb2
        |                       + CAST(cb2 AS HUGEINT) * na))) AS BIGINT)
        |                 AS td_exact
        |        FROM uE, tE GROUP BY tE.na, tE.nb2),
        |tdB AS (SELECT CAST(sum(
        |                 ((CAST(ca AS HUGEINT) * nb2 - CAST(cb2 AS HUGEINT) * na)
        |                  * (CAST(ca AS HUGEINT) * nb2 - CAST(cb2 AS HUGEINT) * na)
        |                  * 1000000)
        |                 // (CAST(na AS HUGEINT) * nb2
        |                    * (CAST(ca AS HUGEINT) * nb2
        |                       + CAST(cb2 AS HUGEINT) * na))) AS BIGINT)
        |                 AS td_bucketed
        |        FROM uB, tB GROUP BY tB.na, tB.nb2),
        |sp AS (SELECT CAST(max(v) - min(v) AS BIGINT) AS span
        |       FROM (SELECT v FROM a UNION SELECT v FROM ngt) t),
        |bd AS (SELECT dE.n_a, dE.n_b, sp.span,
        |              (dE.n_a + 255) // 256 AS stride_s
        |       FROM dE, sp)
        |SELECT dE.n_a, dE.n_b, dE.d_ppm_exact, dC.d_ppm_comp,
        |       wE.w1_exact, wC.w1_comp,
        |       tE.n_cats_exact, tvE.tv_exact, tvB.tv_bucketed,
        |       tB.n_cats_bucketed,
        |       c2E.chi2_exact, c2B.chi2_bucketed, tdE.td_exact,
        |       tdB.td_bucketed, bd.span, bd.stride_s,
        |       CAST((bd.stride_s * 1000000 + bd.n_a - 1) // bd.n_a + 1
        |            AS BIGINT) AS ks_bound_ppm,
        |       CAST(abs(dC.d_ppm_comp - dE.d_ppm_exact)
        |            <= (bd.stride_s * 1000000 + bd.n_a - 1) // bd.n_a + 1
        |            AS BIGINT) AS ks_within,
        |       CAST((CAST(bd.stride_s AS HUGEINT) * bd.span * 1000000
        |             + bd.n_a - 1) // bd.n_a + 1 AS BIGINT) AS w1_bound_micro,
        |       CAST(abs(wC.w1_comp - wE.w1_exact)
        |            <= (CAST(bd.stride_s AS HUGEINT) * bd.span * 1000000
        |                + bd.n_a - 1) // bd.n_a + 1
        |            AS BIGINT) AS w1_within,
        |       CAST(tvB.tv_bucketed <= tvE.tv_exact AS BIGINT) AS tv_mono,
        |       CAST(c2B.chi2_bucketed <= c2E.chi2_exact + 2 * tE.n_cats_exact
        |            AS BIGINT) AS chi2_mono,
        |       CAST(tdB.td_bucketed <= tdE.td_exact + tE.n_cats_exact
        |            AS BIGINT) AS td_mono
        |FROM dE, dC, wE, wC, tE, tB, tvE, tvB, c2E, c2B, tdE, tdB, sp, bd"""
        .stripMargin)),

    QueryDef("q473_stream_weighted_kmv", (s, d) => {
      // the STREAMING weighted sample (EventsStream.kmvWeightedSampleStream
      // — q467's uniform bridge with proportional-to-weight draw): each
      // micro-batch's per-event-type weighted bottom-8 merges into the
      // stored sample by the exact re-take-k law, k-bounded state by
      // construction, and stream == batch is an IDENTITY (sub-keys are
      // deterministic functions of (id, weight), re-take-k idempotent —
      // effectively exactly-once with no batch-id ledger), so the
      // whole-table replay IS the oracle. Weight = user_id % 4 + 1, a
      // stable function of the id (the merge contract).
      import graft.streaming.EventsStream
      val wh = Scratch.warehouse("q473", d, s, Seq("type_wsample"))
      Scratch.resetCheckpoint(wh, "type_wsample")
      EventsStream.kmvWeightedSampleStream(
        EventsStream.readEvents(s, d).filter(col("user_id").isNotNull),
        wh, "type_wsample", Seq("event_type"),
        col("user_id").cast("long"), col("user_id").cast("long") % 4L + 1L, 8)
        .awaitTermination()
      wh.read("type_wsample")
    }, Some(
      """WITH d AS (SELECT DISTINCT event_type,
        |                  CAST(user_id AS BIGINT) AS id FROM events
        |           WHERE user_id IS NOT NULL),
        |w AS (SELECT event_type, id, id % 4 + 1 AS wt FROM d),
        |s AS (SELECT event_type,
        |             md5(CAST(id AS VARCHAR) || '#' || CAST(j AS VARCHAR))
        |               AS kmv_key,
        |             CAST(id AS VARCHAR) AS kmv_id,
        |             CAST(wt AS BIGINT) AS kmv_w
        |      FROM (SELECT event_type, id, wt,
        |                   unnest(range(0, CAST(wt AS BIGINT))) AS j
        |            FROM w) t),
        |r AS (SELECT event_type, kmv_key, kmv_id, kmv_w,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY kmv_key, kmv_id) AS rn
        |      FROM s)
        |SELECT event_type, kmv_key, kmv_id, kmv_w
        |FROM r WHERE rn <= 8""".stripMargin)),

    QueryDef("q474_ref_point_lookup", (s, d) => {
      // the declared-predicate ref's POINT-LOOKUP face (VERDICT r13 #5
      // beside q464's window+range): the consumer model declares
      // `ref("li_keys", RefIn(okey, keys))` and the materializer routes
      // through readPrunedIn — bloom membership INTERSECTED with min/max
      // bounds decides the file set before Spark lists anything, the
      // "fetch these N keys" batch shape at 100 TB. Semantics identical
      // to ref().filter(isin); the plain IN aggregate is the oracle
      // (RegistrySpec pins the routed file skipping itself).
      import graft.engine.{Model, RefIn, Registry, ViewMat}
      val wh = Scratch.warehouse("q474", d, s, Seq("li_keys"))
      wh.writeSwap("li_keys", table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("okey"),
        col("l_quantity").cast("long").as("qty"),
        col("l_returnflag").as("flag"))
        .repartitionByRange(16, col("okey"))
        .sortWithinPartitions("okey"),
        statsCols = Seq("okey"), bloomCols = Seq("okey"))
      val reg = new Registry(s, wh)
      reg.register(Model("picked", Seq("li_keys"), ViewMat, ctx =>
        ctx.ref("li_keys", Seq(RefIn("okey",
            Seq(1L, 7L, 4000L, 29988L, 59999L))))
          .groupBy(col("flag"))
          .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"),
            countDistinct(col("okey")).as("n_keys"))))
      reg.run()
      reg.relation("picked")
    }, Some(
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_keys
        |FROM lineitem
        |WHERE CAST(l_orderkey AS BIGINT) IN (1, 7, 4000, 29988, 59999)
        |GROUP BY 1""".stripMargin)),

    QueryDef("q475_weighted_kmv_jaccard", (s, d) => {
      // WEIGHTED Jaccard from two weighted register tables — the
      // replicated-multiset identity does all the work: with per-side
      // integer weights w_A(id), w_B(id) and SHARED sub-keys
      // md5(id#j), the sub-item sets satisfy |A' n B'| = sum min(w_A,
      // w_B) and |A' u B'| = sum max — so the plain kmvJaccard over the
      // two weighted register tables estimates the canonical weighted
      // Jaccard sum(min)/sum(max), no new estimator needed. Urgent vs
      // low-priority buyers weighted by per-customer order count
      // (capped at 8): the overlap measure now weighs REPEAT buyers,
      // not mere membership. Exact sum(min)/sum(max) joined alongside
      // from one full-outer rollup: observed at sf0.01 est 441406 ppm
      // (113 of the 256-key union sample in both) vs exact 450813
      // (sum_min 1856, sum_max 4117) — -2.1%, inside the binomial
      // envelope, value-inspected.
      import graft.functions.Sketches
      val o = table(s, d, "orders").select(
        col("o_orderpriority").as("pr"), col("o_custkey").cast("long").as("ck"))
      def wside(p: String) = o.filter(col("pr") === p)
        .groupBy(col("ck")).agg(least(count(lit(1)), lit(8L)).as("w"))
      val wa = wside("1-URGENT").pinLazy() // regs + exact
      val wb = wside("5-LOW").pinLazy()
      def regs(side: org.apache.spark.sql.DataFrame) =
        Sketches.kmvWeightedRegisters(side, Nil, col("ck"), col("w"),
          256, maxWeight = 8).drop("kmv_w")
      val est = Sketches.kmvJaccard(regs(wa), regs(wb), 256)
      val ex = wa.withColumnRenamed("w", "w_a")
        .join(wb.withColumnRenamed("w", "w_b"), Seq("ck"), "full_outer")
        .agg(
          sum(least(coalesce(col("w_a"), lit(0L)),
            coalesce(col("w_b"), lit(0L)))).cast("long").as("sum_min"),
          sum(greatest(coalesce(col("w_a"), lit(0L)),
            coalesce(col("w_b"), lit(0L)))).cast("long").as("sum_max"))
        .withColumn("exact_jw_ppm", call_function("div",
          col("sum_min").cast("decimal(38,0)") * lit(1000000L),
          col("sum_max").cast("decimal(38,0)")).cast("long"))
      est.crossJoin(ex)
    }, Some(
      """WITH o AS (SELECT o_orderpriority AS pr,
        |                  CAST(o_custkey AS BIGINT) AS ck FROM orders),
        |wa AS (SELECT ck, least(CAST(count(*) AS BIGINT), 8) AS w
        |       FROM o WHERE pr = '1-URGENT' GROUP BY 1),
        |wb AS (SELECT ck, least(CAST(count(*) AS BIGINT), 8) AS w
        |       FROM o WHERE pr = '5-LOW' GROUP BY 1),
        |sa AS (SELECT md5(CAST(ck AS VARCHAR) || '#' || CAST(j AS VARCHAR))
        |               AS key
        |       FROM (SELECT ck, unnest(range(0, w)) AS j FROM wa) t),
        |sb AS (SELECT md5(CAST(ck AS VARCHAR) || '#' || CAST(j AS VARCHAR))
        |               AS key
        |       FROM (SELECT ck, unnest(range(0, w)) AS j FROM wb) t),
        |ra AS (SELECT key FROM (
        |         SELECT key, row_number() OVER (ORDER BY key) AS rn FROM sa) t
        |       WHERE rn <= 256),
        |rb AS (SELECT key FROM (
        |         SELECT key, row_number() OVER (ORDER BY key) AS rn FROM sb) t
        |       WHERE rn <= 256),
        |uk AS (SELECT DISTINCT key FROM (SELECT key FROM ra
        |                                 UNION ALL SELECT key FROM rb) t),
        |us AS (SELECT key FROM (
        |         SELECT key, row_number() OVER (ORDER BY key) AS rn FROM uk) t
        |       WHERE rn <= 256),
        |ov AS (SELECT CAST(count(*) AS BIGINT) AS n_overlap
        |       FROM us JOIN ra USING (key) JOIN rb USING (key)),
        |un AS (SELECT CAST(count(*) AS BIGINT) AS n_union FROM us),
        |ex AS (SELECT CAST(sum(least(coalesce(wa.w, 0), coalesce(wb.w, 0)))
        |                   AS BIGINT) AS sum_min,
        |              CAST(sum(greatest(coalesce(wa.w, 0), coalesce(wb.w, 0)))
        |                   AS BIGINT) AS sum_max
        |       FROM wa FULL OUTER JOIN wb ON wa.ck = wb.ck)
        |SELECT un.n_union, ov.n_overlap,
        |       CAST((CAST(ov.n_overlap AS HUGEINT) * 1000000)
        |            // un.n_union AS BIGINT) AS j_ppm,
        |       ex.sum_min, ex.sum_max,
        |       CAST((CAST(ex.sum_min AS HUGEINT) * 1000000)
        |            // ex.sum_max AS BIGINT) AS exact_jw_ppm
        |FROM un, ov, ex""".stripMargin)),

    QueryDef("q476_mixture_weighted_sample", (s, d) => {
      // the MIXTURE-weighted corpus sample — the pretraining-mix use the
      // weighted registers exist for: declared per-language upweights
      // (en=1, de=4, es=6, fr=8, zh=10 — boost the rare languages) turn
      // "sample 32 documents mixture-proportionally" into ONE weighted
      // bottom-k register table; at 100 TB this is a single bounded
      // aggregate, where the q365 mixture-rebalance planner materializes
      // per-source allocations. Output: the sample's per-language
      // composition beside each language's exact weighted-mass share —
      // observed at sf0.01 (total mass 2198 over ~500 docs): zh 13/32 =
      // 406250 sample-ppm vs 341219 mass-ppm, en 2/32 = 62500 vs 99181
      // — the upweighted tails dominate the draw as declared while en
      // (weight 1, most documents) recedes, value-inspected. The sample
      // is of weighted SUB-ITEMS (an id can hold two slots), matching
      // the replicated-multiset law the oracle replays.
      import graft.functions.Sketches
      val langW = when(col("lang") === "en", 1L)
        .when(col("lang") === "de", 4L).when(col("lang") === "es", 6L)
        .when(col("lang") === "fr", 8L).otherwise(10L)
      val docs = table(s, d, "documents")
        .select(col("doc_id").cast("long").as("id"), col("lang"))
        .withColumn("w", langW)
        .pinLazy() // feeds the registers, the join-back, the mass
      val sample = Sketches.kmvWeightedRegisters(docs, Nil, col("id"),
        col("w"), 32, maxWeight = 16)
      val comp = sample
        .join(docs.withColumn("kmv_id", col("id").cast("string")),
          Seq("kmv_id"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      val mass = docs.groupBy(col("lang"))
        .agg(sum(col("w")).cast("long").as("w_mass"))
      val total = docs.agg(sum(col("w")).cast("long").as("w_total"))
      mass.join(comp, Seq("lang"), "left")
        .withColumn("n_sampled", coalesce(col("n_sampled"), lit(0L)))
        .crossJoin(broadcast(total))
        .withColumn("mass_ppm", call_function("div",
          col("w_mass").cast("decimal(38,0)") * lit(1000000L),
          col("w_total").cast("decimal(38,0)")).cast("long"))
        .withColumn("sample_ppm", call_function("div",
          col("n_sampled").cast("decimal(38,0)") * lit(1000000L),
          lit(32L).cast("decimal(38,0)")).cast("long"))
    }, Some(
      """WITH dcs AS (SELECT CAST(doc_id AS BIGINT) AS id, lang,
        |                  CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 4
        |                       WHEN 'es' THEN 6 WHEN 'fr' THEN 8
        |                       ELSE 10 END AS w
        |           FROM documents),
        |s AS (SELECT id, lang,
        |             md5(CAST(id AS VARCHAR) || '#' || CAST(j AS VARCHAR))
        |               AS key
        |      FROM (SELECT id, lang, unnest(range(0, CAST(w AS BIGINT))) AS j
        |            FROM dcs) t),
        |r AS (SELECT id, lang,
        |             row_number() OVER (ORDER BY key, CAST(id AS VARCHAR)) AS rn
        |      FROM s),
        |k AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled
        |      FROM r WHERE rn <= 32 GROUP BY 1),
        |m AS (SELECT lang, CAST(sum(w) AS BIGINT) AS w_mass FROM dcs GROUP BY 1),
        |tt AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM dcs)
        |SELECT m.lang, m.w_mass, coalesce(k.n_sampled, 0) AS n_sampled,
        |       tt.w_total,
        |       CAST((CAST(m.w_mass AS HUGEINT) * 1000000)
        |            // tt.w_total AS BIGINT) AS mass_ppm,
        |       CAST((CAST(coalesce(k.n_sampled, 0) AS HUGEINT) * 1000000)
        |            // 32 AS BIGINT) AS sample_ppm
        |FROM m LEFT JOIN k ON m.lang = k.lang, tt""".stripMargin)),

    QueryDef("q477_kmv_set_ops", (s, d) => {
      // FULL set-operation estimates from two KMV register tables
      // (Sketches.kmvSetOps — the theta-sketch a-not-b / intersection
      // face beside q469's Jaccard ratio): union-sample membership
      // fractions scale the (k-1)/U(k) union estimate into
      // |A ∩ B| / |A \ B| / |B \ A| cardinalities, and the A-member
      // subsample alone gives the DIRECTIONAL containment |A∩B| div |A|
      // (the decontamination question "how much of A is inside B" that
      // symmetric Jaccard can't answer). Sets: click-active vs
      // purchase-active (user, day) pairs — two activity footprints with
      // real partial overlap. Everything register-grain (two ≤k inputs,
      // one ≤2k bottom-k window); the exact full-outer contrast rides
      // alongside. Observed at sf0.01 (k=128, value-inspected):
      // est_union 2797 vs exact 2614 (+7.0%), est_both 568 vs 591
      // (-3.9%), est_only_a 1136 vs 1010 (+12.5%, ~1.4 sigma),
      // est_only_b 1092 vs 1013 (+7.8%), cont_a_ppm 333333 vs exact
      // 369144 (591/1601) — every estimate inside or at the edge of the
      // ~8.9% 1/sqrt(k-2) one-sigma envelope.
      import graft.functions.Sketches
      val ev = events(s, d).filter(col("user_id").isNotNull)
        .select(col("event_type"),
          concat(col("user_id").cast("string"), lit("|"),
            col("ts").cast("date").cast("string")).as("id"))
      def side(t: String) = ev.filter(col("event_type") === t).select(col("id"))
      val a = side("click").pinLazy()    // regs + exact side
      val b = side("purchase").pinLazy() // regs + exact side
      val est = Sketches.kmvSetOps(
        Sketches.kmvRegisters(a, Nil, col("id"), 128),
        Sketches.kmvRegisters(b, Nil, col("id"), 128), 128)
      val ex = a.distinct().withColumnRenamed("id", "ida")
        .join(b.distinct().withColumnRenamed("id", "idb"),
          col("ida") === col("idb"), "full_outer")
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("ida").isNotNull && col("idb").isNotNull, 1L)
            .otherwise(0L)).cast("long").as("exact_both"),
          sum(when(col("idb").isNull, 1L).otherwise(0L)).cast("long")
            .as("exact_only_a"),
          sum(when(col("ida").isNull, 1L).otherwise(0L)).cast("long")
            .as("exact_only_b"))
      est.crossJoin(ex)
    }, Some(
      """WITH e AS (SELECT event_type,
        |                  CAST(user_id AS VARCHAR) || '|' ||
        |                  CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR)
        |                    AS id
        |           FROM events WHERE user_id IS NOT NULL),
        |a AS (SELECT DISTINCT id FROM e WHERE event_type = 'click'),
        |b AS (SELECT DISTINCT id FROM e WHERE event_type = 'purchase'),
        |ra AS (SELECT kmv_key FROM (
        |         SELECT md5(id) AS kmv_key,
        |                row_number() OVER (ORDER BY md5(id)) AS rn FROM a) t
        |       WHERE rn <= 128),
        |rb AS (SELECT kmv_key FROM (
        |         SELECT md5(id) AS kmv_key,
        |                row_number() OVER (ORDER BY md5(id)) AS rn FROM b) t
        |       WHERE rn <= 128),
        |uk AS (SELECT kmv_key, max(in_a) AS in_a, max(in_b) AS in_b
        |       FROM (SELECT kmv_key, 1 AS in_a, 0 AS in_b FROM ra
        |             UNION ALL SELECT kmv_key, 0, 1 FROM rb) t
        |       GROUP BY 1),
        |us AS (SELECT kmv_key, in_a, in_b FROM (
        |         SELECT kmv_key, in_a, in_b,
        |                row_number() OVER (ORDER BY kmv_key) AS rn FROM uk) t
        |       WHERE rn <= 128),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_union,
        |              max(kmv_key) AS kth,
        |              CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
        |              CAST(sum(in_a * (1 - in_b)) AS BIGINT) AS n_only_a,
        |              CAST(sum((1 - in_a) * in_b) AS BIGINT) AS n_only_b,
        |              CAST(sum(in_a) AS BIGINT) AS n_a_regs,
        |              CAST(sum(in_b) AS BIGINT) AS n_b_regs
        |       FROM us),
        |e1 AS (SELECT *, CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                   AS kth_num
        |       FROM ag),
        |e2 AS (SELECT *,
        |              CASE WHEN n_union < 128 THEN n_union
        |                   ELSE CAST((CAST(127 AS HUGEINT) * 1152921504606846976)
        |                             // kth_num AS BIGINT)
        |              END AS est_union
        |       FROM e1),
        |e3 AS (SELECT *,
        |              CASE WHEN n_union < 128 THEN n_both
        |                   ELSE CAST((CAST(n_both AS HUGEINT) * est_union)
        |                             // n_union AS BIGINT) END AS est_both,
        |              CASE WHEN n_union < 128 THEN n_only_a
        |                   ELSE CAST((CAST(n_only_a AS HUGEINT) * est_union)
        |                             // n_union AS BIGINT) END AS est_only_a,
        |              CASE WHEN n_union < 128 THEN n_only_b
        |                   ELSE CAST((CAST(n_only_b AS HUGEINT) * est_union)
        |                             // n_union AS BIGINT) END AS est_only_b,
        |              CAST((CAST(n_both AS HUGEINT) * 1000000)
        |                   // n_a_regs AS BIGINT) AS cont_a_ppm,
        |              CAST((CAST(n_both AS HUGEINT) * 1000000)
        |                   // n_b_regs AS BIGINT) AS cont_b_ppm
        |       FROM e2),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_union,
        |              CAST(sum(CASE WHEN a.id IS NOT NULL AND b.id IS NOT NULL
        |                            THEN 1 ELSE 0 END) AS BIGINT) AS exact_both,
        |              CAST(sum(CASE WHEN b.id IS NULL THEN 1 ELSE 0 END)
        |                   AS BIGINT) AS exact_only_a,
        |              CAST(sum(CASE WHEN a.id IS NULL THEN 1 ELSE 0 END)
        |                   AS BIGINT) AS exact_only_b
        |       FROM a FULL OUTER JOIN b ON a.id = b.id)
        |SELECT e3.n_union, e3.n_both, e3.n_only_a, e3.n_only_b,
        |       e3.n_a_regs, e3.n_b_regs, e3.kth_num, e3.est_union,
        |       e3.est_both, e3.est_only_a, e3.est_only_b,
        |       e3.cont_a_ppm, e3.cont_b_ppm,
        |       ex.exact_union, ex.exact_both, ex.exact_only_a, ex.exact_only_b
        |FROM e3, ex""".stripMargin)),

    QueryDef("q478_stream_compressed_panel", (s, d) => {
      // the LAST cell of the monitor matrix: STREAM-maintained live side
      // scored against a STORED COMPRESSED baseline, all five laws in one
      // nightly job. q461 proved stream × exact-baseline for KS; q472
      // proved batch × compressed for all five; this composes them — the
      // baseline is the k=256 qsCompress summary written ONCE (257 rows
      // regardless of history size), the live side is sum-combined
      // per-cents registers maintained by the aggStream bridge
      // (AvailableNow over events, day = Jan 25 only), and the scorers
      // read BOTH sides from storage. The categorical trio scores the
      // bucketing the summary defines (live value -> smallest kept >= it,
      // overflow fresh — the q472 grid). Because the bridge is lossless
      // (sum-combine == batch groupBy) and both windows match q472's,
      // the five scores must equal q472's compressed-side values
      // EXACTLY — observed at sf0.01 (value-inspected): d_ppm 60388,
      // w1_micro 387.4M, tv_ppm 341920, chi2_milli 219093, td_ppm 378498
      // — the digit-level identity that PROVES the stream bridge loses
      // nothing on its way to the panel.
      import graft.streaming.EventsStream
      import graft.functions.QuantileSketch
      import graft.pipeline.Inference
      val wh = Scratch.warehouse("q478", d, s, Seq("panel_base", "panel_live"))
      Scratch.resetCheckpoint(wh, "panel_live")
      def centsOf(df: DataFrame): DataFrame = df
        .filter(col("value").isNotNull)
        .select(col("ts").cast("date").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      wh.writeSwap("panel_base", QuantileSketch.qsCompress(
        QuantileSketch.qsRegisters(
          centsOf(events(s, d))
            .filter(col("day") < lit("2024-01-21").cast("date")),
          Nil, col("cents")),
        Nil, k = 256))
      EventsStream.aggStream(EventsStream.readEvents(s, d), wh, "panel_live",
        Seq("qs_value"), Seq("qs_weight" -> "sum")) { batch =>
        centsOf(batch)
          .filter(col("day") === lit("2024-01-25").cast("date"))
          .groupBy(col("cents").as("qs_value"))
          .agg(count(lit(1)).as("qs_weight"))
      }.awaitTermination()
      val comp = wh.read("panel_base")
        .pinLazy() // feeds 5 scorers + the bucket grid
      val night = wh.read("panel_live")
        .pinLazy() // feeds KS/W1 + the bucketing
      val grid = comp.select(col("qs_value").as("gv"))
      val gmax = comp.agg(max(col("qs_value")).as("gmax"))
      val nb = night
        .join(broadcast(grid), col("gv") >= col("qs_value"), "left")
        .groupBy(col("qs_value"), col("qs_weight"))
        .agg(min(col("gv")).as("b"))
        .crossJoin(broadcast(gmax))
        .select(coalesce(col("b"), col("gmax") + 1L).as("qs_value"),
          col("qs_weight"))
        .groupBy(col("qs_value"))
        .agg(sum(col("qs_weight")).as("qs_weight"))
      val ks = Inference.ksFromRegisters(comp, night)
        .select(col("n_a"), col("n_b"), col("d_num"), col("d_ppm"))
      val w1 = Inference.w1FromRegisters(comp, night).select(col("w1_micro"))
      val tv = Inference.tvdFromRegisters(comp, nb)
        .select(col("n_cats"), col("tv_ppm"))
      val c2 = Inference.chi2FromRegisters(comp, nb)
        .select(col("dof"), col("chi2_milli"))
      val td = Inference.tdFromRegisters(comp, nb).select(col("td_ppm"))
      ks.crossJoin(w1).crossJoin(tv).crossJoin(c2).crossJoin(td)
    }, Some(
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |a AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS w
        |      FROM e WHERE day < DATE '2024-01-21' GROUP BY 1),
        |cb AS (SELECT v, w, sum(w) OVER (ORDER BY v) AS cum,
        |              sum(w) OVER () AS tot FROM a),
        |kb AS (SELECT v, cum - coalesce(lag(cum) OVER (ORDER BY v), 0) AS w
        |       FROM (SELECT v, cum
        |             FROM cb
        |             WHERE (cum // ((tot + 255) // 256))
        |                     > ((cum - w) // ((tot + 255) // 256))
        |                OR cum = tot) t),
        |ngt AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS w
        |        FROM e WHERE day = DATE '2024-01-25' GROUP BY 1),
        |mx AS (SELECT max(v) AS gmax FROM kb),
        |nbm AS (SELECT n.v AS v0, n.w, min(k.v) AS b
        |        FROM ngt n LEFT JOIN kb k ON k.v >= n.v GROUP BY 1, 2),
        |nb AS (SELECT coalesce(b, mx.gmax + 1) AS v,
        |              CAST(sum(w) AS BIGINT) AS w
        |       FROM nbm, mx GROUP BY 1),
        |uC AS (SELECT v, CAST(sum(ca) AS BIGINT) AS ca,
        |              CAST(sum(cb2) AS BIGINT) AS cb2
        |       FROM (SELECT v, w AS ca, 0 AS cb2 FROM kb
        |             UNION ALL SELECT v, 0, w FROM ngt) t
        |       GROUP BY 1 HAVING sum(ca) + sum(cb2) > 0),
        |uB AS (SELECT v, CAST(sum(ca) AS BIGINT) AS ca,
        |              CAST(sum(cb2) AS BIGINT) AS cb2
        |       FROM (SELECT v, w AS ca, 0 AS cb2 FROM kb
        |             UNION ALL SELECT v, 0, w FROM nb) t
        |       GROUP BY 1 HAVING sum(ca) + sum(cb2) > 0),
        |sC AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cum_a,
        |              sum(cb2) OVER (ORDER BY v) AS cum_b,
        |              lead(v) OVER (ORDER BY v) AS nv,
        |              sum(ca) OVER () AS n_a, sum(cb2) OVER () AS n_b
        |       FROM uC),
        |dC AS (SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |              CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
        |                           - CAST(cum_b AS HUGEINT) * n_a)) AS BIGINT)
        |                AS d_num,
        |              CAST((CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
        |                                - CAST(cum_b AS HUGEINT) * n_a))
        |                         AS HUGEINT) * 1000000)
        |                   // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS d_ppm
        |       FROM sC GROUP BY n_a, n_b),
        |wC AS (SELECT CAST((coalesce(sum(abs(CAST(cum_a AS HUGEINT) * n_b
        |                                     - CAST(cum_b AS HUGEINT) * n_a)
        |                                 * (nv - v)), 0) * 1000000)
        |                   // (CAST(max(n_a) AS HUGEINT) * max(n_b))
        |                   AS BIGINT) AS w1_micro
        |       FROM sC WHERE nv IS NOT NULL),
        |tB AS (SELECT CAST(count(*) AS BIGINT) AS n_cats,
        |              CAST(sum(ca) AS BIGINT) AS na,
        |              CAST(sum(cb2) AS BIGINT) AS nb2 FROM uB),
        |tvB AS (SELECT CAST((sum(abs(CAST(ca AS HUGEINT) * tB.nb2
        |                             - CAST(cb2 AS HUGEINT) * tB.na))
        |                     * 1000000)
        |                    // (2 * CAST(tB.na AS HUGEINT) * tB.nb2)
        |                    AS BIGINT) AS tv_ppm
        |        FROM uB, tB GROUP BY tB.na, tB.nb2),
        |c2B AS (SELECT CAST(sum(
        |                 ((CAST(ca AS HUGEINT)*(na+nb2) - CAST(na AS HUGEINT)*(ca+cb2))
        |                  *(CAST(ca AS HUGEINT)*(na+nb2) - CAST(na AS HUGEINT)*(ca+cb2)) * 1000)
        |                 // (CAST(na+nb2 AS HUGEINT) * na * (ca+cb2))
        |               + ((CAST(cb2 AS HUGEINT)*(na+nb2) - CAST(nb2 AS HUGEINT)*(ca+cb2))
        |                  *(CAST(cb2 AS HUGEINT)*(na+nb2) - CAST(nb2 AS HUGEINT)*(ca+cb2)) * 1000)
        |                 // (CAST(na+nb2 AS HUGEINT) * nb2 * (ca+cb2))) AS BIGINT)
        |                 AS chi2_milli
        |        FROM uB, tB GROUP BY tB.na, tB.nb2),
        |tdB AS (SELECT CAST(sum(
        |                 ((CAST(ca AS HUGEINT) * nb2 - CAST(cb2 AS HUGEINT) * na)
        |                  * (CAST(ca AS HUGEINT) * nb2 - CAST(cb2 AS HUGEINT) * na)
        |                  * 1000000)
        |                 // (CAST(na AS HUGEINT) * nb2
        |                    * (CAST(ca AS HUGEINT) * nb2
        |                       + CAST(cb2 AS HUGEINT) * na))) AS BIGINT)
        |                 AS td_ppm
        |        FROM uB, tB GROUP BY tB.na, tB.nb2)
        |SELECT dC.n_a, dC.n_b, dC.d_num, dC.d_ppm, wC.w1_micro,
        |       tB.n_cats, tvB.tv_ppm, tB.n_cats - 1 AS dof,
        |       c2B.chi2_milli, tdB.td_ppm
        |FROM dC, wC, tB, tvB, c2B, tdB""".stripMargin)),

    QueryDef("q479_ref_prefix_scan", (s, d) => {
      // the declared-predicate ref's PREFIX face (completing the routing
      // surface: q464 window+range, q474 point lookup, this the
      // leading-key string scan): the consumer model declares
      // `ref("docs_by_source", RefPrefix(source, "src1"))` and the
      // materializer routes through readPrunedPrefix — the stats
      // manifest's truncated string bounds serve the byte range
      // [prefix, next-prefix) so out-of-range files are never listed,
      // the "one brand / one language / one URL host" batch shape at
      // 100 TB. A REAL prefix, not equality: 'src1' matches 11 of the
      // 20 sources (src1, src10..src19). Semantics identical to
      // ref().filter(startsWith); the LIKE aggregate is the oracle
      // (RegistrySpec pins the file skipping itself).
      import graft.engine.{Model, RefPrefix, Registry, ViewMat}
      val wh = Scratch.warehouse("q479", d, s, Seq("docs_by_source"))
      wh.writeSwap("docs_by_source", table(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .repartitionByRange(8, col("source"))
        .sortWithinPartitions("source"),
        statsCols = Seq("source"))
      val reg = new Registry(s, wh)
      reg.register(Model("src1_family", Seq("docs_by_source"), ViewMat, ctx =>
        ctx.ref("docs_by_source", Seq(RefPrefix("source", "src1")))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"))))
      reg.run()
      reg.relation("src1_family")
    }, Some(
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE source LIKE 'src1%'
        |GROUP BY 1""".stripMargin)),

    QueryDef("q480_mg_rolling_heavy_hitters", (s, d) => {
      // ROLLING heavy hitters: the Misra-Gries register family
      // (Sketches.mgRegisters/mgCompress/mgBound — the frequency member
      // completing the mergeable-register family) composed with the
      // period layout. Per-day k=8 summaries are one partition dir each;
      // "the trailing week's heavy hitters" is mgCompress over
      // readPeriodRange — out-of-window dirs never listed, counter
      // values merge by bag-union + the deterministic (k+1)-th-largest
      // cut, and the SELF-CERTIFYING envelope reads from the merged
      // summary plus the window's row count alone: true ∈ [mg_count,
      // mg_count + (n_total - stored_mass) div (k+1)], absent values
      // <= err_bound (no false negative above the error mass). Items:
      // half the stream planted into 5 hot keys (user_id % 5), half
      // spread over per-event cold singletons — the "few heavy, long
      // tail" shape MG exists for. Observed at sf0.01 (value-inspected):
      // window n_total 2350, exactly the 5 hot keys survive (stored_mass
      // 1140, err_bound 134), every exact count within [mg_count,
      // mg_count + 134] with true deviation exactly 7 — one unit per
      // daily cut (each day's cut is 1, the cold-singleton count) —
      // and zero certified-heavy items missing.
      import graft.functions.Sketches
      val wh = Scratch.warehouse("q480", d, s, Seq("day_hh"))
      val ev = events(s, d).select(
        col("ts").cast("date").cast("string").as("p"),
        when(col("event_id") % 2L === 0L,
          concat(lit("hot"), (col("user_id") % 5L).cast("string")))
          .otherwise(concat(lit("cold"), col("event_id").cast("string")))
          .as("item"))
      wh.writeSwap("day_hh",
        Sketches.mgRegisters(ev, Seq("p"), col("item"), 8),
        partitionBy = Seq("p"))
      val win = ev.filter(col("p") >= "2024-01-16" && col("p") <= "2024-01-22")
        .pinLazy() // feeds exact counts + totals
      val merged = Sketches.mgCompress(
        wh.readPeriodRange("day_hh", "2024-01-16", "2024-01-22"), Nil, 8)
        .pinLazy() // feeds the join, the bound, the anti-join
      val exact = win.groupBy(col("item"))
        .agg(count(lit(1)).cast("long").as("exact_count"))
        .pinLazy() // feeds the join + the completeness anti-join
      val totals = win.agg(count(lit(1)).cast("long").as("n_total"))
      val bound = Sketches.mgBound(merged, Nil, totals, 8)
        .pinLazy() // feeds the output row and the anti-join
      val missed = exact
        .join(merged, exact("item") === merged("mg_value"), "left_anti")
        .crossJoin(broadcast(bound.select(col("err_bound").as("__eb"))))
        .filter(col("exact_count") > col("__eb"))
        .agg(count(lit(1)).cast("long").as("n_missed_heavy"))
      merged.join(exact, merged("mg_value") === exact("item")).drop("item")
        .crossJoin(bound).crossJoin(missed)
        .withColumn("lower_ok",
          (col("mg_count") <= col("exact_count")).cast("long"))
        .withColumn("upper_ok",
          (col("exact_count") <= col("mg_count") + col("err_bound"))
            .cast("long"))
    }, Some(
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CASE WHEN event_id % 2 = 0
        |              THEN 'hot' || CAST(user_id % 5 AS VARCHAR)
        |              ELSE 'cold' || CAST(event_id AS VARCHAR) END AS item
        |  FROM events),
        |dc AS (SELECT day, item, CAST(count(*) AS BIGINT) AS c FROM e
        |       WHERE day >= DATE '2024-01-16' AND day <= DATE '2024-01-22'
        |       GROUP BY 1, 2),
        |r AS (SELECT day, item, c,
        |             row_number() OVER (PARTITION BY day
        |                                ORDER BY c DESC, item) AS rn
        |      FROM dc),
        |ct AS (SELECT day, coalesce(max(CASE WHEN rn = 9 THEN c END), 0)
        |               AS cut
        |       FROM r GROUP BY 1),
        |dmg AS (SELECT r.day, item, c - cut AS c
        |        FROM r JOIN ct USING (day) WHERE c > cut),
        |ws AS (SELECT item, CAST(sum(c) AS BIGINT) AS c FROM dmg GROUP BY 1),
        |r2 AS (SELECT item, c,
        |              row_number() OVER (ORDER BY c DESC, item) AS rn
        |       FROM ws),
        |cu2 AS (SELECT coalesce(max(CASE WHEN rn = 9 THEN c END), 0) AS cut
        |        FROM r2),
        |mg AS (SELECT item AS mg_value, c - cu2.cut AS mg_count
        |       FROM r2, cu2 WHERE c > cu2.cut),
        |ex AS (SELECT item, CAST(count(*) AS BIGINT) AS exact_count FROM e
        |       WHERE day >= DATE '2024-01-16' AND day <= DATE '2024-01-22'
        |       GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM e
        |       WHERE day >= DATE '2024-01-16' AND day <= DATE '2024-01-22'),
        |sm AS (SELECT CAST(coalesce(sum(mg_count), 0) AS BIGINT)
        |               AS stored_mass FROM mg),
        |bd AS (SELECT nt.n_total, sm.stored_mass,
        |              (nt.n_total - sm.stored_mass) // 9 AS err_bound
        |       FROM nt, sm),
        |ms AS (SELECT CAST(count(*) AS BIGINT) AS n_missed_heavy
        |       FROM ex LEFT JOIN mg ON ex.item = mg.mg_value, bd
        |       WHERE mg.mg_value IS NULL AND ex.exact_count > bd.err_bound)
        |SELECT mg.mg_value, CAST(mg.mg_count AS BIGINT) AS mg_count,
        |       ex.exact_count, bd.n_total, bd.stored_mass, bd.err_bound,
        |       ms.n_missed_heavy,
        |       CAST(mg.mg_count <= ex.exact_count AS BIGINT) AS lower_ok,
        |       CAST(ex.exact_count <= mg.mg_count + bd.err_bound AS BIGINT)
        |         AS upper_ok
        |FROM mg JOIN ex ON mg.mg_value = ex.item, bd, ms""".stripMargin)),

    QueryDef("q481_mg_grouped_candidates", (s, d) => {
      // the GROUPED fleet face of the MG registers: one job builds k=4
      // summaries for every event_type and scores every group's
      // candidate-superset law at once — exact per-type heavy hitters
      // (count > the self-certified err_bound) must ALL appear among the
      // stored candidates, the no-false-negative contract of
      // HeavyHitters at register grain, per group, with no driver state.
      // Half of each type's stream planted into 3 hot user keys; the
      // cold tail is per-event singletons. Observed at sf0.01
      // (value-inspected): every type stores exactly its 3 hot keys
      // (exact 309-353 each, deviation exactly 1 = the single cut of a
      // cold singleton), err_bound 198-204 < every exact count — all 15
      // certified AND present, n_missed_heavy 0 on every type, both
      // envelope flags 1 on all 15 rows.
      import graft.functions.Sketches
      val ev = events(s, d).select(col("event_type"),
        when(col("event_id") % 2L === 0L,
          concat(lit("h"), (col("user_id") % 3L).cast("string")))
          .otherwise(concat(lit("c"), col("event_id").cast("string")))
          .as("item"))
        .pinLazy() // feeds registers + exact + totals
      val regs = Sketches.mgRegisters(ev, Seq("event_type"), col("item"), 4)
        .pinLazy() // feeds the join, the bound, the anti-join
      val exact = ev.groupBy(col("event_type"), col("item"))
        .agg(count(lit(1)).cast("long").as("exact_count"))
        .pinLazy() // feeds the join + the anti-join
      val totals = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_total"))
      val bound = Sketches.mgBound(regs, Seq("event_type"), totals, 4)
        .pinLazy() // feeds the output and the anti-join
      val missed = exact
        .join(regs.withColumnRenamed("mg_value", "item"),
          Seq("event_type", "item"), "left_anti")
        .join(broadcast(bound.select(col("event_type"), col("err_bound"))),
          Seq("event_type"))
        .filter(col("exact_count") > col("err_bound"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_missed_heavy"))
      regs
        .join(exact.withColumnRenamed("item", "mg_value"),
          Seq("event_type", "mg_value"))
        .join(bound, Seq("event_type"))
        .join(missed, Seq("event_type"), "left")
        .withColumn("n_missed_heavy", coalesce(col("n_missed_heavy"), lit(0L)))
        .withColumn("lower_ok",
          (col("mg_count") <= col("exact_count")).cast("long"))
        .withColumn("upper_ok",
          (col("exact_count") <= col("mg_count") + col("err_bound"))
            .cast("long"))
    }, Some(
      """WITH e AS (SELECT event_type,
        |                  CASE WHEN event_id % 2 = 0
        |                       THEN 'h' || CAST(user_id % 3 AS VARCHAR)
        |                       ELSE 'c' || CAST(event_id AS VARCHAR) END AS item
        |           FROM events),
        |ct AS (SELECT event_type, item, CAST(count(*) AS BIGINT) AS c
        |       FROM e GROUP BY 1, 2),
        |r AS (SELECT event_type, item, c,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY c DESC, item) AS rn
        |      FROM ct),
        |cu AS (SELECT event_type,
        |              coalesce(max(CASE WHEN rn = 5 THEN c END), 0) AS cut
        |       FROM r GROUP BY 1),
        |mg AS (SELECT r.event_type, item AS mg_value, c - cut AS mg_count
        |       FROM r JOIN cu USING (event_type) WHERE c > cut),
        |nt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_total
        |       FROM e GROUP BY 1),
        |sm AS (SELECT event_type, CAST(sum(mg_count) AS BIGINT)
        |               AS stored_mass
        |       FROM mg GROUP BY 1),
        |bd AS (SELECT nt.event_type, nt.n_total, sm.stored_mass,
        |              (nt.n_total - sm.stored_mass) // 5 AS err_bound
        |       FROM nt JOIN sm USING (event_type)),
        |ms AS (SELECT ct.event_type, CAST(count(*) AS BIGINT) AS n_missed
        |       FROM ct
        |       LEFT JOIN mg ON ct.event_type = mg.event_type
        |                   AND ct.item = mg.mg_value
        |       JOIN bd ON bd.event_type = ct.event_type
        |       WHERE mg.mg_value IS NULL AND ct.c > bd.err_bound
        |       GROUP BY 1)
        |SELECT mg.event_type, mg.mg_value,
        |       CAST(mg.mg_count AS BIGINT) AS mg_count,
        |       ct.c AS exact_count, bd.n_total, bd.stored_mass,
        |       bd.err_bound, coalesce(ms.n_missed, 0) AS n_missed_heavy,
        |       CAST(mg.mg_count <= ct.c AS BIGINT) AS lower_ok,
        |       CAST(ct.c <= mg.mg_count + bd.err_bound AS BIGINT) AS upper_ok
        |FROM mg
        |JOIN ct ON mg.event_type = ct.event_type AND mg.mg_value = ct.item
        |JOIN bd ON bd.event_type = mg.event_type
        |LEFT JOIN ms ON ms.event_type = mg.event_type""".stripMargin)),

    QueryDef("q482_weighted_set_ops", (s, d) => {
      // WEIGHTED set operations for free — the replicated-multiset
      // identity (q475's Jaccard argument) composes with kmvSetOps
      // unchanged: per-side integer weights with SHARED sub-keys
      // md5(id#j) make sub-item (id,j) live in A' iff j < w_A(id), so
      // |A' n B'| = sum min(w_A, w_B), |A' u B'| = sum max, |A' \ B'| =
      // sum (w_A - min) — the estimator that read set CARDINALITIES now
      // reads weighted MASSES, including the directional weighted
      // containment sum(min) div sum(w_A) ("how much of A's mass is
      // inside B"). Urgent vs low-priority buyers weighted by order
      // count (capped 8), exact full-outer mass rollup alongside.
      // Observed at sf0.01, k=256 (value-inspected): est_union 4257 vs
      // exact 4117 (+3.4%), est_both 1879 vs 1856 (+1.2%), est_only_a
      // 1014 vs 1122 (-9.6%), est_only_b 1363 vs 1139 (+19.7%, ~2
      // sigma — the difference masses carry the union estimate's error
      // TIMES the membership fraction's, the widest columns by
      // construction), weighted containment 649425 vs 623237 ppm
      // (+4.2%).
      import graft.functions.Sketches
      val o = table(s, d, "orders").select(
        col("o_orderpriority").as("pr"), col("o_custkey").cast("long").as("ck"))
      def wside(p: String) = o.filter(col("pr") === p)
        .groupBy(col("ck")).agg(least(count(lit(1)), lit(8L)).as("w"))
      val wa = wside("1-URGENT").pinLazy() // regs + exact
      val wb = wside("5-LOW").pinLazy()
      def regs(side: DataFrame) =
        Sketches.kmvWeightedRegisters(side, Nil, col("ck"), col("w"),
          256, maxWeight = 8).drop("kmv_w")
      val est = Sketches.kmvSetOps(regs(wa), regs(wb), 256)
      val ex = wa.withColumnRenamed("w", "w_a")
        .join(wb.withColumnRenamed("w", "w_b"), Seq("ck"), "full_outer")
        .select(coalesce(col("w_a"), lit(0L)).as("w_a"),
          coalesce(col("w_b"), lit(0L)).as("w_b"))
        .agg(
          sum(greatest(col("w_a"), col("w_b"))).cast("long")
            .as("exact_union_mass"),
          sum(least(col("w_a"), col("w_b"))).cast("long")
            .as("exact_both_mass"),
          sum(col("w_a") - least(col("w_a"), col("w_b"))).cast("long")
            .as("exact_only_a_mass"),
          sum(col("w_b") - least(col("w_a"), col("w_b"))).cast("long")
            .as("exact_only_b_mass"),
          sum(col("w_a")).cast("long").as("exact_a_mass"))
        .withColumn("exact_cont_a_ppm", call_function("div",
          col("exact_both_mass").cast("decimal(38,0)") * lit(1000000L),
          col("exact_a_mass").cast("decimal(38,0)")).cast("long"))
      est.crossJoin(ex)
    }, Some(
      """WITH o AS (SELECT o_orderpriority AS pr,
        |                  CAST(o_custkey AS BIGINT) AS ck FROM orders),
        |wa AS (SELECT ck, least(CAST(count(*) AS BIGINT), 8) AS w
        |       FROM o WHERE pr = '1-URGENT' GROUP BY 1),
        |wb AS (SELECT ck, least(CAST(count(*) AS BIGINT), 8) AS w
        |       FROM o WHERE pr = '5-LOW' GROUP BY 1),
        |sa AS (SELECT md5(CAST(ck AS VARCHAR) || '#' || CAST(j AS VARCHAR))
        |               AS kmv_key
        |       FROM (SELECT ck, unnest(range(0, w)) AS j FROM wa) t),
        |sb AS (SELECT md5(CAST(ck AS VARCHAR) || '#' || CAST(j AS VARCHAR))
        |               AS kmv_key
        |       FROM (SELECT ck, unnest(range(0, w)) AS j FROM wb) t),
        |ra AS (SELECT kmv_key FROM (
        |         SELECT kmv_key, row_number() OVER (ORDER BY kmv_key) AS rn
        |         FROM sa) t WHERE rn <= 256),
        |rb AS (SELECT kmv_key FROM (
        |         SELECT kmv_key, row_number() OVER (ORDER BY kmv_key) AS rn
        |         FROM sb) t WHERE rn <= 256),
        |uk AS (SELECT kmv_key, max(in_a) AS in_a, max(in_b) AS in_b
        |       FROM (SELECT kmv_key, 1 AS in_a, 0 AS in_b FROM ra
        |             UNION ALL SELECT kmv_key, 0, 1 FROM rb) t
        |       GROUP BY 1),
        |us AS (SELECT kmv_key, in_a, in_b FROM (
        |         SELECT kmv_key, in_a, in_b,
        |                row_number() OVER (ORDER BY kmv_key) AS rn FROM uk) t
        |       WHERE rn <= 256),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_union,
        |              max(kmv_key) AS kth,
        |              CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
        |              CAST(sum(in_a * (1 - in_b)) AS BIGINT) AS n_only_a,
        |              CAST(sum((1 - in_a) * in_b) AS BIGINT) AS n_only_b,
        |              CAST(sum(in_a) AS BIGINT) AS n_a_regs,
        |              CAST(sum(in_b) AS BIGINT) AS n_b_regs
        |       FROM us),
        |e1 AS (SELECT *, CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                   AS kth_num
        |       FROM ag),
        |e2 AS (SELECT *,
        |              CASE WHEN n_union < 256 THEN n_union
        |                   ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                             // kth_num AS BIGINT)
        |              END AS est_union
        |       FROM e1),
        |e3 AS (SELECT *,
        |              CASE WHEN n_union < 256 THEN n_both
        |                   ELSE CAST((CAST(n_both AS HUGEINT) * est_union)
        |                             // n_union AS BIGINT) END AS est_both,
        |              CASE WHEN n_union < 256 THEN n_only_a
        |                   ELSE CAST((CAST(n_only_a AS HUGEINT) * est_union)
        |                             // n_union AS BIGINT) END AS est_only_a,
        |              CASE WHEN n_union < 256 THEN n_only_b
        |                   ELSE CAST((CAST(n_only_b AS HUGEINT) * est_union)
        |                             // n_union AS BIGINT) END AS est_only_b,
        |              CAST((CAST(n_both AS HUGEINT) * 1000000)
        |                   // n_a_regs AS BIGINT) AS cont_a_ppm,
        |              CAST((CAST(n_both AS HUGEINT) * 1000000)
        |                   // n_b_regs AS BIGINT) AS cont_b_ppm
        |       FROM e2),
        |ex AS (SELECT
        |         CAST(sum(greatest(coalesce(wa.w, 0), coalesce(wb.w, 0)))
        |              AS BIGINT) AS exact_union_mass,
        |         CAST(sum(least(coalesce(wa.w, 0), coalesce(wb.w, 0)))
        |              AS BIGINT) AS exact_both_mass,
        |         CAST(sum(coalesce(wa.w, 0)
        |                  - least(coalesce(wa.w, 0), coalesce(wb.w, 0)))
        |              AS BIGINT) AS exact_only_a_mass,
        |         CAST(sum(coalesce(wb.w, 0)
        |                  - least(coalesce(wa.w, 0), coalesce(wb.w, 0)))
        |              AS BIGINT) AS exact_only_b_mass,
        |         CAST(sum(coalesce(wa.w, 0)) AS BIGINT) AS exact_a_mass
        |       FROM wa FULL OUTER JOIN wb ON wa.ck = wb.ck)
        |SELECT e3.n_union, e3.n_both, e3.n_only_a, e3.n_only_b,
        |       e3.n_a_regs, e3.n_b_regs, e3.kth_num, e3.est_union,
        |       e3.est_both, e3.est_only_a, e3.est_only_b,
        |       e3.cont_a_ppm, e3.cont_b_ppm,
        |       ex.exact_union_mass, ex.exact_both_mass,
        |       ex.exact_only_a_mass, ex.exact_only_b_mass,
        |       ex.exact_a_mass,
        |       CAST((CAST(ex.exact_both_mass AS HUGEINT) * 1000000)
        |            // ex.exact_a_mass AS BIGINT) AS exact_cont_a_ppm
        |FROM e3, ex""".stripMargin)),

    QueryDef("q483_mg_no_heavy_certificate", (s, d) => {
      // the NEGATIVE certificate face of the MG registers — the readout
      // a dedup/decontamination pipeline actually wants on honest data:
      // this corpus's trigram distribution is FLAT (16245 distinct over
      // 26165 occurrences, max count 8 — value-inspected BEFORE choosing
      // the shape: no positive heavy hitter exists to find), and the
      // summary alone PROVES it. For any value, true count <= its stored
      // counter + err_bound (absent values <= err_bound), so
      // max(mg_count) + err_bound is a corpus-wide SUPPORT CEILING read
      // from k registers + one total: certificate = ceiling < n_total
      // div 200 means NO trigram reaches 1/200 support — "no dominant
      // duplication" certified without ever materializing the 16k-gram
      // exact rollup. Observed at sf0.01, k=1024 (value-inspected):
      // cut 3, 620 survivors, stored_mass 810, err_bound 24, ceiling
      // 5 + 24 = 29 < threshold 130 -> certified 1; the exact contrast
      // (max count 8 <= 29, zero grams above threshold) validates it.
      import graft.functions.Sketches
      import graft.pipeline.{TextAnalysis => T}
      // Optimization r15 (guide §1.2 "don't compute things twice"): the
      // raw gram stream was materialized once and then scanned THREE
      // times (mgRegisters' internal value rollup, the total count, the
      // exact contrast rollup). Every one of those reads derives from the
      // SAME exact (gram, count) rollup — mgRegisters(raw) == mgCompress
      // over the rollup by definition (its first step IS this rollup),
      // n_total == sum of rollup counts — so build the rollup once and
      // pin IT (value-grain, ~16k x 10 rows at sf0.1) instead of the raw
      // grams. One gram-volume shuffle total, identical digits.
      val exact = table(s, d, "documents").filter(col("text").isNotNull)
        .select(explode(T.ngramsFromTokens(T.tokens(col("text")), 3))
          .as("gram"))
        .groupBy(col("gram"))
        .agg(count(lit(1)).cast("long").as("__c"))
        .pinLazy() // feeds regs, totals, and the contrast
      val regs = Sketches.mgCompress(
        exact.select(col("gram").as("mg_value"), col("__c").as("mg_count")),
        Nil, 1024)
        .pinLazy() // feeds the rollup and the bound
      val totals = exact.agg(sum(col("__c")).cast("long").as("n_total"))
      val bound = Sketches.mgBound(regs, Nil, totals, 1024)
      val summary = regs.agg(count(lit(1)).cast("long").as("n_regs"),
        max(col("mg_count")).as("max_mg_count"))
      val exactAgg = exact.agg(
        count(lit(1)).cast("long").as("exact_n_distinct"),
        max(col("__c")).as("exact_max_count"))
      bound.crossJoin(summary).crossJoin(exactAgg)
        .withColumn("support_ceiling",
          col("max_mg_count") + col("err_bound"))
        .withColumn("threshold", call_function("div",
          col("n_total"), lit(200L)))
        .withColumn("certified",
          (col("support_ceiling") < col("threshold")).cast("long"))
        .withColumn("cert_valid",
          (col("exact_max_count") <= col("support_ceiling")).cast("long"))
    }, Some(
      """WITH dd AS (SELECT string_split(text, ' ') AS toks
        |            FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
        |      FROM dd, LATERAL (SELECT unnest(generate_series(1, len(toks)-2))
        |                        AS i) i
        |      WHERE len(toks) >= 3),
        |ct AS (SELECT gram, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1),
        |r AS (SELECT gram, c,
        |             row_number() OVER (ORDER BY c DESC, gram) AS rn
        |      FROM ct),
        |cu AS (SELECT coalesce(max(CASE WHEN rn = 1025 THEN c END), 0) AS cut
        |       FROM r),
        |mg AS (SELECT gram, c - cu.cut AS mg_count FROM r, cu
        |       WHERE c > cu.cut),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM g),
        |sm AS (SELECT CAST(count(*) AS BIGINT) AS n_regs,
        |              CAST(coalesce(sum(mg_count), 0) AS BIGINT)
        |                AS stored_mass,
        |              CAST(max(mg_count) AS BIGINT) AS max_mg_count
        |       FROM mg),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_n_distinct,
        |              max(c) AS exact_max_count FROM ct)
        |SELECT nt.n_total, sm.stored_mass,
        |       (nt.n_total - sm.stored_mass) // 1025 AS err_bound,
        |       sm.n_regs, sm.max_mg_count,
        |       ex.exact_n_distinct, ex.exact_max_count,
        |       sm.max_mg_count + (nt.n_total - sm.stored_mass) // 1025
        |         AS support_ceiling,
        |       nt.n_total // 200 AS threshold,
        |       CAST(sm.max_mg_count + (nt.n_total - sm.stored_mass) // 1025
        |            < nt.n_total // 200 AS BIGINT) AS certified,
        |       CAST(ex.exact_max_count
        |            <= sm.max_mg_count + (nt.n_total - sm.stored_mass) // 1025
        |            AS BIGINT) AS cert_valid
        |FROM nt, sm, ex""".stripMargin)),

    QueryDef("q484_period_retention", (s, d) => {
      // RETENTION — the missing half of every rolling-window query
      // (q453/q470/q471/q480 made eviction free for READERS; nothing
      // ever reclaimed the space): Warehouse.dropPeriodsBefore deletes
      // the out-of-retention partition dirs through the slice-swap
      // intent machinery (crash-safe, idempotent, no Spark job — the
      // commit is an overwritePeriods with an EMPTY stage; RecoverySpec
      // pins survivor partitions byte-identical, crash-at-marker resume,
      // and the manifest re-arm). Lifecycle here: a month of per-day
      // quantile registers, retention cutoff Jan 16 drops 15 periods,
      // and the post-retention table IS the register build over the
      // surviving days — the oracle replays exactly that. n_dropped
      // rides as a column so the count is value-checked too.
      import graft.functions.QuantileSketch
      val wh = Scratch.warehouse("q484", d, s, Seq("day_regs"))
      val ev = events(s, d)
        .filter(col("value").isNotNull)
        .select(col("ts").cast("date").cast("string").as("p"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      wh.writeSwap("day_regs",
        QuantileSketch.qsRegisters(ev, Seq("p"), col("cents")),
        partitionBy = Seq("p"))
      val dropped = wh.dropPeriodsBefore("day_regs", "2024-01-16")
      // partition discovery re-infers the ISO-date dir values as DATE —
      // cast back to the string grain the layout (and the oracle) uses
      wh.read("day_regs")
        .groupBy(col("p").cast("string").as("p"))
        .agg(count(lit(1)).cast("long").as("n_regs"),
          sum(col("qs_weight")).cast("long").as("w_total"))
        .withColumn("n_dropped", lit(dropped.toLong))
    }, Some(
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT CAST(day AS VARCHAR) AS p,
        |             CAST(count(DISTINCT c) AS BIGINT) AS n_regs,
        |             CAST(count(*) AS BIGINT) AS w_total
        |      FROM e WHERE day >= DATE '2024-01-16' GROUP BY 1),
        |nd AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n_dropped
        |       FROM e WHERE day < DATE '2024-01-16')
        |SELECT g.p, g.n_regs, g.w_total, nd.n_dropped FROM g, nd""".stripMargin)),

    QueryDef("q485_rolling_hll", (s, d) => {
      // rolling DISTINCT over the period layout — the last sketch family
      // composed with it (quantile q453, KMV q470/q471, MG q480; now
      // HLL): per-day registers are one partition dir each, "distinct
      // user-days in the trailing week" is a per-bucket max over
      // readPeriodRange — out-of-window dirs never listed, and max is
      // associative/commutative/idempotent, so the merged window
      // registers EQUAL the whole-window build — the oracle replays the
      // whole-window build and the hash comparison itself proves the
      // merge law. The id is (user_id | day), window-SENSITIVE by
      // construction (150 always-on users would make every window read
      // identical — the q470 saturation lesson). Raw estimator at m=256
      // in the sparse regime (n/m ~ 4), deterministic on both engines;
      // observed at sf0.01 (value-inspected): n_regs 249 of 256,
      // est 913.47 vs exact 937 user-days (-2.5%, inside the
      // 1.04/sqrt(256) ~ 6.5% one-sigma envelope).
      import graft.functions.Sketches
      val wh = Scratch.warehouse("q485", d, s, Seq("day_hll"))
      val ev = events(s, d).filter(col("user_id").isNotNull)
        .select(col("ts").cast("date").cast("string").as("p"),
          concat(col("user_id").cast("string"), lit("|"),
            col("ts").cast("date").cast("string")).as("id"))
      wh.writeSwap("day_hll",
        Sketches.hllRegisters(ev, Seq("p"), col("id")),
        partitionBy = Seq("p"))
      val win = wh.readPeriodRange("day_hll", "2024-01-16", "2024-01-22")
      val merged = win.groupBy(col("hll_bucket"))
        .agg(max(col("hll_rho")).as("hll_rho"),
          max(col("hll_b")).as("hll_b"))
        .pinLazy() // feeds the estimator and the register count
      val est = Sketches.hllEstimate(merged, Nil)
        .select(col("hll_estimate").as("est_user_days"))
      val nRegs = merged.agg(count(lit(1)).cast("long").as("n_regs"))
      val exact = ev
        .filter(col("p") >= "2024-01-16" && col("p") <= "2024-01-22")
        .agg(countDistinct(col("id")).cast("long").as("exact_user_days"))
      nRegs.crossJoin(est).crossJoin(exact)
    }, Some(
      """WITH e AS (
        |  SELECT CAST(user_id AS VARCHAR) || '|' ||
        |         CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS id
        |  FROM events
        |  WHERE user_id IS NOT NULL
        |    AND CAST(CAST(ts AS TIMESTAMP) AS DATE) >= DATE '2024-01-16'
        |    AND CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-22'),
        |r AS (SELECT ('0x' || substr(md5(id), 1, 2))::INT AS hll_bucket,
        |             max(coalesce(nullif(strpos(
        |               lpad(bin(('0x' || substr(md5(id), 3, 8))::BIGINT), 32, '0'),
        |               '1'), 0), 33)) AS hll_rho
        |      FROM e GROUP BY 1),
        |est AS (SELECT CAST(count(*) AS BIGINT) AS n_regs,
        |               0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)
        |                 * 256.0::DOUBLE * 256.0::DOUBLE
        |                 / (sum(CAST(1.0 AS DOUBLE)
        |                        / CAST(1::BIGINT << hll_rho AS DOUBLE))
        |                    + CAST(256 - count(*) AS DOUBLE)) AS est_user_days
        |        FROM r),
        |ex AS (SELECT CAST(count(DISTINCT id) AS BIGINT) AS exact_user_days
        |       FROM e)
        |SELECT est.n_regs, est.est_user_days, ex.exact_user_days
        |FROM est, ex""".stripMargin)),

    QueryDef("q486_dfp_semi_join", (s, d) => {
      // dim-driven DYNAMIC FILE PRUNING (Warehouse.readPrunedSemi — the
      // JOIN face of the declared-predicate surface: q464 window+range,
      // q474 literal point lookup, q479 prefix; here the key set comes
      // from DATA): "join the 100 TB fact to a filtered dimension" where
      // the filter kills most of the dimension — the build side's
      // distinct keys cross the driver under a metadata-bounded contract
      // (at most maxKeys+1 rows, the bloom-build discipline), stats ∩
      // bloom sidecars decide the fact FILE SET before Spark lists
      // anything, and a build side proving wider than the cap degrades
      // to the full-scan shuffle semi join (which at that width is the
      // right plan — file-grain pruning buys nothing when every file
      // holds a surviving key). Semantics are exactly the semi join, so
      // the IN-subquery aggregate is the oracle; ManifestSpec pins the
      // file skipping and the over-cap fallback. 28 urgent orders above
      // $495k survive the filter at sf0.01.
      val wh = Scratch.warehouse("q486", d, s, Seq("li_fact"))
      wh.writeSwap("li_fact", table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("okey"),
        col("l_quantity").cast("long").as("qty"),
        col("l_returnflag").as("flag"))
        .repartitionByRange(16, col("okey"))
        .sortWithinPartitions("okey"),
        statsCols = Seq("okey"), bloomCols = Seq("okey"))
      val dim = table(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 495000.0)
        .select(col("o_orderkey").cast("long").as("dk"))
      wh.readPrunedSemi("li_fact", "okey", dim, "dk", maxKeys = 1024)
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"),
          countDistinct(col("okey")).as("n_keys"))
    }, Some(
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_keys
        |FROM lineitem
        |WHERE CAST(l_orderkey AS BIGINT) IN
        |      (SELECT CAST(o_orderkey AS BIGINT) FROM orders
        |       WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 495000)
        |GROUP BY 1""".stripMargin)),

    QueryDef("q487_join_cost_advisor", (s, d) => {
      // sketch-backed OPTIMIZER STATISTICS + the System-R join estimate
      // (engine/TableStats — the ANALYZE face: the reference delegates
      // this to Snowflake's hidden per-micro-partition metadata, Spark's
      // CBO to ANALYZE TABLE; here the stats are first-class REGISTER
      // TABLES the engine's own sketch laws maintain): per-column NDV
      // rides stored KMV registers (exact-integer Beyer estimator,
      // digit-replayable), counts are additive longs, and the estimate
      // n_a * n_b div max(ndv) (Selinger 1979, containment + uniformity)
      // plus the broadcast-vs-shuffle decision compute ENTIRELY from the
      // stored profiles — the data is never rescanned at plan time. Two
      // contrasting cases beside their exact counts: the clean FK join
      // lineitem x part (estimate lands within the NDV envelope of the
      // exact 60000) and the many-many self-join on l_partkey, where
      // uniformity UNDERestimates under skew — the documented bias,
      // surfaced by contrast (est ~1.8M from 60000^2/ndv vs exact
      // sum cnt^2 = 1858320 at sf0.01). Advice: part (2000 rows) fits
      // the 10k-row broadcast budget -> broadcast_right; the self-join's
      // 60k x 60k -> shuffle. TableStatsSpec pins applyAdvice's physical
      // plan (BroadcastHashJoin exactly where advised).
      import graft.engine.TableStats
      val wh = Scratch.warehouse("q487", d, s,
        Seq("li_counts", "li_regs", "pt_counts", "pt_regs"))
      val li = table(s, d, "lineitem")
        .select(col("l_partkey").cast("long").as("pk"))
      val pt = table(s, d, "part")
        .select(col("p_partkey").cast("long").as("pk"))
      wh.writeSwap("li_counts", TableStats.columnCounts(li, Seq("pk")))
      wh.writeSwap("li_regs", TableStats.columnRegisters(li, Seq("pk"), 256))
      wh.writeSwap("pt_counts", TableStats.columnCounts(pt, Seq("pk")))
      wh.writeSwap("pt_regs", TableStats.columnRegisters(pt, Seq("pk"), 256))
      def prof(tag: String, suffix: String) = TableStats.sideProfile(
        wh.read(s"${tag}_counts"),
        TableStats.ndvEstimate(wh.read(s"${tag}_regs"), 256), "pk", suffix)
      val fk = TableStats.adviseEquiJoin(prof("li", "a"), prof("pt", "b"),
        broadcastMaxRows = 10000L)
        .crossJoin(li.join(broadcast(pt), Seq("pk"))
          .agg(count(lit(1)).cast("long").as("exact_join_rows")))
        .withColumn("jcase", lit("fk_part"))
      val self = TableStats.adviseEquiJoin(prof("li", "a"), prof("li", "b"),
        broadcastMaxRows = 10000L)
        .crossJoin(li.groupBy(col("pk")).agg(count(lit(1)).as("n"))
          .agg(sum(col("n") * col("n")).cast("long").as("exact_join_rows")))
        .withColumn("jcase", lit("self_partkey"))
      fk.unionByName(self)
    }, Some(
      """WITH lp AS (SELECT CAST(l_partkey AS BIGINT) AS pk FROM lineitem),
        |pp AS (SELECT CAST(p_partkey AS BIGINT) AS pk FROM part),
        |lr AS (SELECT md5(CAST(pk AS VARCHAR)) AS key
        |       FROM (SELECT DISTINCT pk FROM lp)),
        |pr AS (SELECT md5(CAST(pk AS VARCHAR)) AS key
        |       FROM (SELECT DISTINCT pk FROM pp)),
        |lk AS (SELECT CAST(count(*) AS BIGINT) AS n_regs, max(key) AS kth
        |       FROM (SELECT key, row_number() OVER (ORDER BY key) AS rn
        |             FROM lr) t WHERE rn <= 256),
        |pk2 AS (SELECT CAST(count(*) AS BIGINT) AS n_regs, max(key) AS kth
        |        FROM (SELECT key, row_number() OVER (ORDER BY key) AS rn
        |              FROM pr) t WHERE rn <= 256),
        |ln AS (SELECT CASE WHEN n_regs < 256 THEN n_regs
        |              ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                   // CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                   AS BIGINT) END AS ndv FROM lk),
        |pn AS (SELECT CASE WHEN n_regs < 256 THEN n_regs
        |              ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                   // CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                   AS BIGINT) END AS ndv FROM pk2),
        |lc AS (SELECT CAST(count(pk) AS BIGINT) AS n FROM lp),
        |pc AS (SELECT CAST(count(pk) AS BIGINT) AS n FROM pp),
        |fx AS (SELECT CAST(count(*) AS BIGINT) AS exact_join_rows
        |       FROM lp JOIN pp USING (pk)),
        |sx AS (SELECT CAST(sum(n * n) AS BIGINT) AS exact_join_rows
        |       FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM lp
        |             GROUP BY pk) t),
        |fk AS (SELECT 'fk_part' AS jcase, lc.n AS n_a, ln.ndv AS ndv_a,
        |              pc.n AS n_b, pn.ndv AS ndv_b,
        |              CAST(CAST(lc.n AS HUGEINT) * pc.n
        |                   // greatest(ln.ndv, pn.ndv, 1) AS BIGINT)
        |                AS est_join_rows,
        |              CASE WHEN least(lc.n, pc.n) > 10000 THEN 'shuffle'
        |                   WHEN lc.n <= pc.n THEN 'broadcast_left'
        |                   ELSE 'broadcast_right' END AS join_plan,
        |              fx.exact_join_rows
        |       FROM lc, ln, pc, pn, fx),
        |sf AS (SELECT 'self_partkey' AS jcase, lc.n AS n_a, ln.ndv AS ndv_a,
        |              lc.n AS n_b, ln.ndv AS ndv_b,
        |              CAST(CAST(lc.n AS HUGEINT) * lc.n
        |                   // greatest(ln.ndv, ln.ndv, 1) AS BIGINT)
        |                AS est_join_rows,
        |              CASE WHEN least(lc.n, lc.n) > 10000 THEN 'shuffle'
        |                   WHEN lc.n <= lc.n THEN 'broadcast_left'
        |                   ELSE 'broadcast_right' END AS join_plan,
        |              sx.exact_join_rows
        |       FROM lc, ln, sx)
        |SELECT * FROM fk UNION ALL SELECT * FROM sf""".stripMargin)),

    QueryDef("q488_range_selectivity", (s, d) => {
      // range selectivity from a STORED quantile summary
      // (TableStats.rangeCountEstimate — the optimizer's second question
      // after NDV: how many rows match value BETWEEN lo AND hi, answered
      // without touching the data): the k=256 qsCompress summary's kept
      // cumulative ranks are EXACT and between-kept gap mass is below
      // the stride s = ceil(W/k), so each endpoint rank carries a
      // one-sided error in [0, s) and the range estimate lands within s
      // of the truth — err_bound DECLARES it beside the estimate, the
      // within_bound flag observes it, and the oracle replays the
      // compression plus both sums digit for digit. l_extendedprice
      // cents in [$10k, $50k] at sf0.01: W = 60000, s = 235, exact
      // 23020 — the estimate must land in [22785, 23255].
      import graft.engine.TableStats
      import graft.functions.QuantileSketch
      val wh = Scratch.warehouse("q488", d, s, Seq("price_summary"))
      val cents = table(s, d, "lineitem")
        .select(floor(col("l_extendedprice") * 100 + 0.5)
          .cast("long").as("cents"))
      wh.writeSwap("price_summary", QuantileSketch.qsCompress(
        QuantileSketch.qsRegisters(cents, Nil, col("cents")), Nil, 256))
      val est = TableStats.rangeCountEstimate(wh.read("price_summary"),
        Nil, 1000000L, 5000000L, 256)
      val exact = cents
        .filter(col("cents") >= 1000000L && col("cents") <= 5000000L)
        .agg(count(lit(1)).cast("long").as("exact_in_range"))
      est.crossJoin(exact)
        .withColumn("within_bound",
          when(abs(col("est_in_range") - col("exact_in_range")) <=
            col("err_bound"), lit(1L)).otherwise(lit(0L)))
    }, Some(
      """WITH e AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |                    AS v FROM lineitem),
        |r AS (SELECT v, CAST(count(*) AS BIGINT) AS w FROM e GROUP BY 1),
        |cb AS (SELECT v, w, sum(w) OVER (ORDER BY v) AS cum,
        |              (SELECT sum(w) FROM r) AS tot FROM r),
        |kb AS (SELECT v, cum - coalesce(lag(cum) OVER (ORDER BY v), 0) AS w
        |       FROM (SELECT v, cum FROM cb
        |             WHERE (cum // ((tot + 255) // 256))
        |                     > ((cum - w) // ((tot + 255) // 256))
        |                OR cum = tot) t),
        |ag AS (SELECT CAST(sum(CASE WHEN v <= 5000000 THEN w ELSE 0 END)
        |              - sum(CASE WHEN v <= 999999 THEN w ELSE 0 END)
        |                AS BIGINT) AS est_in_range,
        |              CAST(sum(w) AS BIGINT) AS w_total FROM kb),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_in_range FROM e
        |       WHERE v BETWEEN 1000000 AND 5000000)
        |SELECT ag.w_total, ag.est_in_range,
        |       CAST((ag.w_total + 255) // 256 AS BIGINT) AS err_bound,
        |       ex.exact_in_range,
        |       CAST(CASE WHEN abs(ag.est_in_range - ex.exact_in_range)
        |                      <= (ag.w_total + 255) // 256
        |                 THEN 1 ELSE 0 END AS BIGINT) AS within_bound
        |FROM ag, ex""".stripMargin)),

    QueryDef("q489_stats_refresh_advisor", (s, d) => {
      // optimizer stats that STAY FRESH UNDER INGEST — the mergeable-
      // register payoff applied to planning: per-day profile registers
      // (KMV) and counts live in the period layout, admission writes
      // only the new days' partitions, and plan-time NDV is a kmvMerge
      // over the STORED day registers — old days are never rescanned,
      // exactly the q453/q480 rolling discipline but feeding the JOIN
      // PLANNER. Two-run lifecycle: with two days admitted the dim-side
      // index (703 event ids at sf0.01) fits the 2000-row broadcast
      // budget -> broadcast_right; after the month's admission (10000
      // ids) the SAME stored-stats read flips the decision to shuffle —
      // the plan choice tracks the data with O(new partitions) stats
      // maintenance. Estimates sit beside exact join counts; the oracle
      // replays both windows' registers, counts, estimate and decision.
      import graft.engine.TableStats
      import graft.functions.Sketches
      val wh = Scratch.warehouse("q489", d, s,
        Seq("day_regs", "day_counts", "fact_counts", "fact_regs"))
      val ev = events(s, d)
        .select(col("ts").cast("date").cast("string").as("p"),
          col("event_id").cast("long").as("id"))
      val evIds = ev.select(col("id"))
      // the fact side's profile: stored once (the fact table is the
      // stable side of the story; its own freshness would ride the same
      // period machinery)
      wh.writeSwap("fact_counts", TableStats.columnCounts(evIds, Seq("id")))
      wh.writeSwap("fact_regs",
        TableStats.columnRegisters(evIds, Seq("id"), 256))
      def dayRegs(df: org.apache.spark.sql.DataFrame) = Sketches.kmvRegisters(
        df.select(col("p"), lit("id").as("ts_col"), col("id")),
        Seq("p", "ts_col"), col("id"), 256)
      def dayCounts(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("p"), lit("id").as("ts_col"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          count(col("id")).cast("long").as("n_notnull"))
      val cut = "2024-01-02"
      wh.writeSwap("day_regs", dayRegs(ev.filter(col("p") <= cut)),
        partitionBy = Seq("p"))
      wh.writeSwap("day_counts", dayCounts(ev.filter(col("p") <= cut)),
        partitionBy = Seq("p"))
      def advise(run: String) = {
        val aProf = TableStats.sideProfile(wh.read("fact_counts"),
          TableStats.ndvEstimate(wh.read("fact_regs"), 256), "id", "a")
        val bCounts = wh.read("day_counts").groupBy(col("ts_col"))
          .agg(sum(col("n_rows")).cast("long").as("n_rows"),
            sum(col("n_notnull")).cast("long").as("n_notnull"))
        val bProf = TableStats.sideProfile(bCounts,
          TableStats.ndvEstimate(
            Sketches.kmvMerge(wh.read("day_regs"), Seq("ts_col"), 256), 256),
          "id", "b")
        val dimIds = wh.read("day_regs").select(col("p")).distinct()
          .join(ev, Seq("p")).select(col("id")).distinct()
        TableStats.adviseEquiJoin(aProf, bProf, broadcastMaxRows = 2000L)
          .crossJoin(evIds.join(dimIds, Seq("id"))
            .agg(count(lit(1)).cast("long").as("exact_join_rows")))
          .withColumn("run", lit(run))
          // EAGER checkpoint: run 1's row must materialize BEFORE the
          // admission below mutates the stored stats it reads (the lazy
          // form would re-plan over post-admission state)
          .pinEager()
      }
      val run1 = advise("run1_2days")
      // calendar-bounded day list for the admission slice (<= 31 values)
      val newDays = ev.filter(col("p") > cut).select(col("p")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      wh.overwritePeriods("day_regs", dayRegs(ev.filter(col("p") > cut)),
        "p", newDays)
      wh.overwritePeriods("day_counts",
        dayCounts(ev.filter(col("p") > cut)), "p", newDays)
      run1.unionByName(advise("run2_month"))
    }, Some(
      """WITH ev AS (SELECT CAST(event_id AS BIGINT) AS id,
        |                   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |            FROM events),
        |fa AS (SELECT CAST(count(id) AS BIGINT) AS n_a FROM ev),
        |fn AS (SELECT CASE WHEN n_regs < 256 THEN n_regs
        |              ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                   // CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                   AS BIGINT) END AS ndv_a
        |       FROM (SELECT CAST(count(*) AS BIGINT) AS n_regs, max(key) AS kth
        |             FROM (SELECT key, row_number() OVER (ORDER BY key) AS rn
        |                   FROM (SELECT md5(CAST(id AS VARCHAR)) AS key
        |                         FROM (SELECT DISTINCT id FROM ev))) t
        |             WHERE rn <= 256)),
        |w1 AS (SELECT id FROM ev WHERE day <= DATE '2024-01-02'),
        |w2 AS (SELECT id FROM ev),
        |b1c AS (SELECT CAST(count(id) AS BIGINT) AS n_b FROM w1),
        |b2c AS (SELECT CAST(count(id) AS BIGINT) AS n_b FROM w2),
        |b1n AS (SELECT CASE WHEN n_regs < 256 THEN n_regs
        |               ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                    // CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                    AS BIGINT) END AS ndv_b
        |        FROM (SELECT CAST(count(*) AS BIGINT) AS n_regs,
        |                     max(key) AS kth
        |              FROM (SELECT key, row_number() OVER (ORDER BY key) AS rn
        |                    FROM (SELECT md5(CAST(id AS VARCHAR)) AS key
        |                          FROM (SELECT DISTINCT id FROM w1))) t
        |              WHERE rn <= 256)),
        |b2n AS (SELECT CASE WHEN n_regs < 256 THEN n_regs
        |               ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                    // CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                    AS BIGINT) END AS ndv_b
        |        FROM (SELECT CAST(count(*) AS BIGINT) AS n_regs,
        |                     max(key) AS kth
        |              FROM (SELECT key, row_number() OVER (ORDER BY key) AS rn
        |                    FROM (SELECT md5(CAST(id AS VARCHAR)) AS key
        |                          FROM (SELECT DISTINCT id FROM w2))) t
        |              WHERE rn <= 256)),
        |x1 AS (SELECT CAST(count(*) AS BIGINT) AS exact_join_rows
        |       FROM ev JOIN (SELECT DISTINCT id FROM w1) u USING (id)),
        |x2 AS (SELECT CAST(count(*) AS BIGINT) AS exact_join_rows
        |       FROM ev JOIN (SELECT DISTINCT id FROM w2) u USING (id)),
        |r1 AS (SELECT 'run1_2days' AS run, fa.n_a, fn.ndv_a, b1c.n_b,
        |              b1n.ndv_b,
        |              CAST(CAST(fa.n_a AS HUGEINT) * b1c.n_b
        |                   // greatest(fn.ndv_a, b1n.ndv_b, 1) AS BIGINT)
        |                AS est_join_rows,
        |              CASE WHEN least(fa.n_a, b1c.n_b) > 2000 THEN 'shuffle'
        |                   WHEN fa.n_a <= b1c.n_b THEN 'broadcast_left'
        |                   ELSE 'broadcast_right' END AS join_plan,
        |              x1.exact_join_rows
        |       FROM fa, fn, b1c, b1n, x1),
        |r2 AS (SELECT 'run2_month' AS run, fa.n_a, fn.ndv_a, b2c.n_b,
        |              b2n.ndv_b,
        |              CAST(CAST(fa.n_a AS HUGEINT) * b2c.n_b
        |                   // greatest(fn.ndv_a, b2n.ndv_b, 1) AS BIGINT)
        |                AS est_join_rows,
        |              CASE WHEN least(fa.n_a, b2c.n_b) > 2000 THEN 'shuffle'
        |                   WHEN fa.n_a <= b2c.n_b THEN 'broadcast_left'
        |                   ELSE 'broadcast_right' END AS join_plan,
        |              x2.exact_join_rows
        |       FROM fa, fn, b2c, b2n, x2)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2""".stripMargin)),

    QueryDef("q490_overlap_join_estimate", (s, d) => {
      // the containment assumption MEASURED instead of assumed
      // (TableStats.equiJoinEstimateOverlap composing kmvSetOps with the
      // stored profiles): System-R's n_a*n_b/max(ndv) presumes every key
      // of the smaller side matches — false whenever each side holds
      // keys the other lacks (two filtered slices of a dimension, two
      // time windows), where it OVERestimates. The stored KMV registers
      // already answer |keys(A) n keys(B)| (est_both), so the corrected
      // estimate est_both * n_a * n_b div (ndv_a * ndv_b) prices the
      // overlap from register-grain state alone. The churn shape makes
      // the violation real: buyers of the FIRST half-year vs buyers of
      // the LAST (1995-H1 vs 2001 at sf0.01 — A 1092 rows/777 keys, B
      // 1308/885, true key overlap only 451, exact join 949): System-R
      // assumes the 777 all match and reads 1651 (+74%); the overlap
      // form lands within the sketch envelope of exact (observed
      // est_both 467, est 935, −1.5% — value-inspected).
      import graft.engine.TableStats
      import graft.functions.Sketches
      val wh = Scratch.warehouse("q490", d, s,
        Seq("a_counts", "a_regs", "b_counts", "b_regs"))
      val od = to_date(col("o_orderdate"))
      def sideOf(f: Column) = table(s, d, "orders").filter(f)
        .select(col("o_custkey").cast("long").as("ck"))
      def side(tag: String) =
        if (tag == "a") sideOf(od < lit("1995-07-01").cast("date"))
        else sideOf(od >= lit("2001-01-01").cast("date"))
      wh.writeSwap("a_counts", TableStats.columnCounts(side("a"), Seq("ck")))
      wh.writeSwap("a_regs",
        TableStats.columnRegisters(side("a"), Seq("ck"), 256))
      wh.writeSwap("b_counts", TableStats.columnCounts(side("b"), Seq("ck")))
      wh.writeSwap("b_regs",
        TableStats.columnRegisters(side("b"), Seq("ck"), 256))
      def prof(tag: String, sfx: String) = TableStats.sideProfile(
        wh.read(s"${tag}_counts"),
        TableStats.ndvEstimate(wh.read(s"${tag}_regs"), 256), "ck", sfx)
      val ops = Sketches.kmvSetOps(wh.read("a_regs"), wh.read("b_regs"), 256)
      val sysr = TableStats.adviseEquiJoin(prof("a", "a"), prof("b", "b"),
        broadcastMaxRows = 10000L)
      val corrected = TableStats.equiJoinEstimateOverlap(
        prof("a", "a"), prof("b", "b"), ops)
        .select(col("est_both"), col("est_join_rows_overlap"))
      val exact = side("a").join(side("b"), Seq("ck"))
        .agg(count(lit(1)).cast("long").as("exact_join_rows"))
      sysr.crossJoin(corrected).crossJoin(exact)
    }, Some(
      """WITH a AS (SELECT CAST(o_custkey AS BIGINT) AS ck FROM orders
        |           WHERE CAST(o_orderdate AS DATE) < DATE '1995-07-01'),
        |b AS (SELECT CAST(o_custkey AS BIGINT) AS ck FROM orders
        |      WHERE CAST(o_orderdate AS DATE) >= DATE '2001-01-01'),
        |ra AS (SELECT kmv_key FROM (
        |         SELECT md5(CAST(ck AS VARCHAR)) AS kmv_key,
        |                row_number() OVER (ORDER BY md5(CAST(ck AS VARCHAR)))
        |                  AS rn
        |         FROM (SELECT DISTINCT ck FROM a)) t WHERE rn <= 256),
        |rb AS (SELECT kmv_key FROM (
        |         SELECT md5(CAST(ck AS VARCHAR)) AS kmv_key,
        |                row_number() OVER (ORDER BY md5(CAST(ck AS VARCHAR)))
        |                  AS rn
        |         FROM (SELECT DISTINCT ck FROM b)) t WHERE rn <= 256),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_regs, max(kmv_key) AS kth
        |       FROM ra),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_regs, max(kmv_key) AS kth
        |       FROM rb),
        |va AS (SELECT CASE WHEN n_regs < 256 THEN n_regs
        |              ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                   // CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                   AS BIGINT) END AS ndv_a FROM na),
        |vb AS (SELECT CASE WHEN n_regs < 256 THEN n_regs
        |              ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                   // CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                   AS BIGINT) END AS ndv_b FROM nb),
        |ca AS (SELECT CAST(count(ck) AS BIGINT) AS n_a FROM a),
        |cb AS (SELECT CAST(count(ck) AS BIGINT) AS n_b FROM b),
        |uk AS (SELECT kmv_key, max(in_a) AS in_a, max(in_b) AS in_b
        |       FROM (SELECT kmv_key, 1 AS in_a, 0 AS in_b FROM ra
        |             UNION ALL SELECT kmv_key, 0, 1 FROM rb) t
        |       GROUP BY 1),
        |us AS (SELECT kmv_key, in_a, in_b FROM (
        |         SELECT kmv_key, in_a, in_b,
        |                row_number() OVER (ORDER BY kmv_key) AS rn FROM uk) t
        |       WHERE rn <= 256),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_union,
        |              max(kmv_key) AS kth,
        |              CAST(sum(in_a * in_b) AS BIGINT) AS n_both
        |       FROM us),
        |e1 AS (SELECT *, CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                   AS kth_num FROM ag),
        |e2 AS (SELECT *,
        |              CASE WHEN n_union < 256 THEN n_union
        |                   ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                             // kth_num AS BIGINT) END AS est_union
        |       FROM e1),
        |e3 AS (SELECT CASE WHEN n_union < 256 THEN n_both
        |                   ELSE CAST((CAST(n_both AS HUGEINT) * est_union)
        |                             // n_union AS BIGINT) END AS est_both
        |       FROM e2),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_join_rows
        |       FROM a JOIN b USING (ck))
        |SELECT ca.n_a, va.ndv_a, cb.n_b, vb.ndv_b,
        |       CAST(CAST(ca.n_a AS HUGEINT) * cb.n_b
        |            // greatest(va.ndv_a, vb.ndv_b, 1) AS BIGINT)
        |         AS est_join_rows,
        |       CASE WHEN least(ca.n_a, cb.n_b) > 10000 THEN 'shuffle'
        |            WHEN ca.n_a <= cb.n_b THEN 'broadcast_left'
        |            ELSE 'broadcast_right' END AS join_plan,
        |       e3.est_both,
        |       CAST(CAST(e3.est_both AS HUGEINT) * ca.n_a * cb.n_b
        |            // greatest(CAST(va.ndv_a AS HUGEINT) * vb.ndv_b, 1)
        |            AS BIGINT) AS est_join_rows_overlap,
        |       ex.exact_join_rows
        |FROM ca, va, cb, vb, e3, ex""".stripMargin)),

    QueryDef("q491_mcv_join_estimate", (s, d) => {
      // the end-biased histogram (TableStats.mcvProfile +
      // equiJoinEstimateMcv — PostgreSQL's eqjoinsel_inner, selfuncs.c):
      // uniformity UNDERestimates joins on skewed keys (q487's
      // self-join); storing the top-k values WITH EXACT COUNTS confines
      // the assumption to the tail. documents.lang is honestly Zipf at
      // sf0.01 (en 218 of 500): A = all docs, B = docs above median
      // length, k = 2 MCVs per side — and B's second MCV is 'es', not
      // 'zh' (37-37 tie broken value-asc, both engines replaying the
      // same deterministic cut), so every estimator term is exercised:
      // matched en×en, A's zh against B's tail, B's es against A's
      // tail, tail×tail System-R. Observed: exact 33564, System-R
      // 25000 (−26%), MCV 35967 (+7.2%) — the head's exact mass does
      // the work. NDVs are exact here (5 < k): the gap is PURELY the
      // uniformity assumption, isolated by construction.
      import graft.engine.TableStats
      val wh = Scratch.warehouse("q491", d, s,
        Seq("a_counts", "a_regs", "a_mcv", "b_counts", "b_regs", "b_mcv"))
      val docs = table(s, d, "documents")
      val aSide = docs.select(col("lang"))
      val bSide = docs.filter(col("n_chars") > 306L).select(col("lang"))
      wh.writeSwap("a_counts", TableStats.columnCounts(aSide, Seq("lang")))
      wh.writeSwap("a_regs", TableStats.columnRegisters(aSide, Seq("lang"), 256))
      wh.writeSwap("a_mcv", TableStats.mcvProfile(aSide, "lang", 2))
      wh.writeSwap("b_counts", TableStats.columnCounts(bSide, Seq("lang")))
      wh.writeSwap("b_regs", TableStats.columnRegisters(bSide, Seq("lang"), 256))
      wh.writeSwap("b_mcv", TableStats.mcvProfile(bSide, "lang", 2))
      def prof(tag: String, sfx: String) = TableStats.sideProfile(
        wh.read(s"${tag}_counts"),
        TableStats.ndvEstimate(wh.read(s"${tag}_regs"), 256), "lang", sfx)
      val sysr = TableStats.adviseEquiJoin(prof("a", "a"), prof("b", "b"),
        broadcastMaxRows = 10000L).select(col("n_a"), col("ndv_a"),
        col("n_b"), col("ndv_b"), col("est_join_rows").as("est_sysr"))
      val mcv = TableStats.equiJoinEstimateMcv(
        wh.read("a_mcv"), prof("a", "a"), wh.read("b_mcv"), prof("b", "b"))
        .select(col("t_matched"), col("t_a_tail"), col("t_b_tail"),
          col("t_tails"), col("est_join_rows_mcv"))
      val exact = aSide.join(bSide.groupBy(col("lang"))
          .agg(count(lit(1)).as("__cb")), Seq("lang"))
        .agg(sum(col("__cb")).cast("long").as("exact_join_rows"))
      sysr.crossJoin(mcv).crossJoin(exact)
    }, Some(
      """WITH a AS (SELECT lang FROM documents),
        |b AS (SELECT lang FROM documents WHERE n_chars > 306),
        |ga AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM a GROUP BY 1),
        |gb AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
        |ma AS (SELECT lang, c FROM (
        |         SELECT lang, c, row_number() OVER (ORDER BY c DESC, lang ASC)
        |                  AS rn FROM ga) t WHERE rn <= 2),
        |mb AS (SELECT lang, c FROM (
        |         SELECT lang, c, row_number() OVER (ORDER BY c DESC, lang ASC)
        |                  AS rn FROM gb) t WHERE rn <= 2),
        |ca AS (SELECT CAST(count(lang) AS BIGINT) AS n_a,
        |              CAST(count(DISTINCT lang) AS BIGINT) AS ndv_a FROM a),
        |cb AS (SELECT CAST(count(lang) AS BIGINT) AS n_b,
        |              CAST(count(DISTINCT lang) AS BIGINT) AS ndv_b FROM b),
        |m AS (SELECT CAST(coalesce(sum(CASE WHEN ma.c IS NOT NULL
        |                                     AND mb.c IS NOT NULL
        |                                THEN ma.c * mb.c END), 0) AS BIGINT)
        |               AS t_matched,
        |             CAST(coalesce(sum(CASE WHEN mb.c IS NULL THEN ma.c END),
        |                           0) AS BIGINT) AS ua_mass,
        |             CAST(coalesce(sum(CASE WHEN ma.c IS NULL THEN mb.c END),
        |                           0) AS BIGINT) AS ub_mass,
        |             CAST(count(ma.c) AS BIGINT) AS mn_a,
        |             CAST(count(mb.c) AS BIGINT) AS mn_b,
        |             CAST(coalesce(sum(ma.c), 0) AS BIGINT) AS mm_a,
        |             CAST(coalesce(sum(mb.c), 0) AS BIGINT) AS mm_b
        |      FROM ma FULL OUTER JOIN mb USING (lang)),
        |t AS (SELECT m.*, ca.n_a, ca.ndv_a, cb.n_b, cb.ndv_b,
        |             ca.n_a - m.mm_a AS tail_mass_a,
        |             cb.n_b - m.mm_b AS tail_mass_b,
        |             greatest(ca.ndv_a - m.mn_a, 0) AS tail_ndv_a,
        |             greatest(cb.ndv_b - m.mn_b, 0) AS tail_ndv_b
        |      FROM m, ca, cb),
        |f AS (SELECT n_a, ndv_a, n_b, ndv_b, t_matched,
        |             CAST(CAST(ua_mass AS HUGEINT) * tail_mass_b
        |                  // greatest(tail_ndv_b, 1) AS BIGINT) AS t_a_tail,
        |             CAST(CAST(ub_mass AS HUGEINT) * tail_mass_a
        |                  // greatest(tail_ndv_a, 1) AS BIGINT) AS t_b_tail,
        |             CAST(CAST(tail_mass_a AS HUGEINT) * tail_mass_b
        |                  // greatest(tail_ndv_a, tail_ndv_b, 1) AS BIGINT)
        |               AS t_tails,
        |             tail_mass_a, tail_mass_b, tail_ndv_a, tail_ndv_b
        |      FROM t),
        |ex AS (SELECT CAST(sum(ga.c * gb.c) AS BIGINT) AS exact_join_rows
        |       FROM ga JOIN gb USING (lang))
        |SELECT f.n_a, f.ndv_a, f.n_b, f.ndv_b,
        |       CAST(CAST(f.n_a AS HUGEINT) * f.n_b
        |            // greatest(f.ndv_a, f.ndv_b, 1) AS BIGINT) AS est_sysr,
        |       f.t_matched, f.t_a_tail, f.t_b_tail, f.t_tails,
        |       f.t_matched + f.t_a_tail + f.t_b_tail + f.t_tails
        |         AS est_join_rows_mcv,
        |       ex.exact_join_rows
        |FROM f, ex""".stripMargin)),

    QueryDef("q492_hot_cold_join", (s, d) => {
      // STORED-stats-driven skew routing (Skew.hotColdJoin + the MG
      // certificate): at 100 TB the expensive planning mistake is
      // shuffling a skewed join key — AQE splits sort-merge skew at
      // runtime, but a key owning a third of the fact is cheapest never
      // shuffled at all. The hot list comes from the STORED Misra-Gries
      // registers (no rescan at plan time; the no-false-negative law
      // makes the certified list COMPLETE above the support threshold,
      // and stored counts are lower bounds so certification is sound),
      // crosses the driver at register grain (<= k rows), and the join
      // splits: hot keys' dim rows broadcast (the skewed mass never
      // shuffles on its key), the cold tail takes the ordinary shuffle
      // join. Inner-join semantics make the union EXACTLY the plain
      // join — the oracle. Skew is PLANTED and documented (orders
      // custkey remapped to key 1 for o_orderkey % 3 = 0: ~5000 of
      // 15000 rows at sf0.01 — the TPC-H-ish tables are deliberately
      // uniform); SkewSpec-style pins live in TableStatsSpec.
      import graft.engine.{Skew, TableStats}
      import graft.functions.Sketches
      val wh = Scratch.warehouse("q492", d, s,
        Seq("hot_fact", "hot_regs", "hot_counts"))
      wh.writeSwap("hot_fact", table(s, d, "orders").select(
        when(col("o_orderkey") % 3L === 0L, 1L)
          .otherwise(col("o_custkey").cast("long")).as("hk"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")))
      wh.writeSwap("hot_regs",
        Sketches.mgRegisters(wh.read("hot_fact"), Nil, col("hk"), 8))
      wh.writeSwap("hot_counts",
        TableStats.columnCounts(wh.read("hot_fact"), Seq("hk")))
      // plan-time reads: ONE stats row and <= k register rows cross the
      // driver — the data itself is never rescanned to decide the plan
      val n = wh.read("hot_counts").filter(col("ts_col") === "hk")
        .head().getAs[Long]("n_notnull")
      val hot = wh.read("hot_regs").filter(col("mg_count") >= lit(n / 10L))
        .select(col("mg_value")).collect().map(_.getString(0).toLong).toSeq
      val dim = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("hk"),
        col("c_nationkey").cast("long").as("nation"))
      Skew.hotColdJoin(wh.read("hot_fact"), dim, "hk", hot)
        .groupBy(col("nation"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).cast("long").as("rev_cents"))
    }, Some(
      """WITH f AS (SELECT CASE WHEN o_orderkey % 3 = 0 THEN 1
        |                       ELSE CAST(o_custkey AS BIGINT) END AS hk,
        |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |                    AS cents
        |           FROM orders),
        |c AS (SELECT CAST(c_custkey AS BIGINT) AS hk,
        |             CAST(c_nationkey AS BIGINT) AS nation FROM customer)
        |SELECT c.nation, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(f.cents) AS BIGINT) AS rev_cents
        |FROM f JOIN c USING (hk)
        |GROUP BY 1""".stripMargin)),

    QueryDef("q493_join_order", (s, d) => {
      // JOIN-ORDER selection from stored statistics — the Selinger 1979
      // question itself, over the TPC-H Q3 shape lineitem ⋈ orders ⋈
      // customer(BUILDING): the join graph admits two left-deep orders,
      // (L⋈O) then C' or (O⋈C') then L, and the cost difference is the
      // INTERMEDIATE size. Both intermediates are priced by the same
      // stored-profile System-R estimate the advisor already uses —
      // observed at sf0.01: est_lo 57332 vs exact 60000 (−4.4%), est_oc
      // 2838 vs exact 2958 (−4.1%, both inside the k=256 NDV envelope;
      // this testdata populates orders across ALL 1500 custkeys, so
      // containment holds and System-R is honest here) — a 20× cost gap,
      // so the planner picks oc_first, the order every real optimizer
      // picks for Q3. Filtered-side stats are DERIVED stats: the profile
      // is built on C' after its predicate, the standard post-selection
      // re-estimate. Value-inspected.
      import graft.engine.TableStats
      val wh = Scratch.warehouse("q493", d, s,
        Seq("lo_counts", "lo_regs", "oo_counts", "oo_regs",
          "oc_counts", "oc_regs", "cb_counts", "cb_regs"))
      val lk = table(s, d, "lineitem").select(col("l_orderkey").cast("long").as("k"))
      val ok = table(s, d, "orders").select(col("o_orderkey").cast("long").as("k"))
      val oc = table(s, d, "orders").select(col("o_custkey").cast("long").as("k"))
      val cb = table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").cast("long").as("k"))
      for ((tag, df) <- Seq(("lo", lk), ("oo", ok), ("oc", oc), ("cb", cb))) {
        wh.writeSwap(s"${tag}_counts", TableStats.columnCounts(df, Seq("k")))
        wh.writeSwap(s"${tag}_regs",
          TableStats.columnRegisters(df, Seq("k"), 256))
      }
      def prof(tag: String, sfx: String) = TableStats.sideProfile(
        wh.read(s"${tag}_counts"),
        TableStats.ndvEstimate(wh.read(s"${tag}_regs"), 256), "k", sfx)
      val estLo = TableStats.adviseEquiJoin(prof("lo", "a"), prof("oo", "b"),
        broadcastMaxRows = 10000L).select(col("est_join_rows").as("est_lo"))
      val estOc = TableStats.adviseEquiJoin(prof("oc", "a"), prof("cb", "b"),
        broadcastMaxRows = 10000L).select(col("est_join_rows").as("est_oc"))
      val exactLo = lk.join(ok, Seq("k"))
        .agg(count(lit(1)).cast("long").as("exact_lo"))
      val exactOc = oc.join(cb, Seq("k"))
        .agg(count(lit(1)).cast("long").as("exact_oc"))
      estLo.crossJoin(estOc)
        .withColumn("chosen_order",
          when(col("est_oc") <= col("est_lo"), lit("oc_first"))
            .otherwise(lit("lo_first")))
        .crossJoin(exactLo).crossJoin(exactOc)
    }, Some(
      """WITH lk AS (SELECT CAST(l_orderkey AS BIGINT) AS k FROM lineitem),
        |ok AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
        |oc AS (SELECT CAST(o_custkey AS BIGINT) AS k FROM orders),
        |cbk AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
        |        WHERE c_mktsegment = 'BUILDING'),
        |ndv AS (SELECT s, CASE WHEN n_regs < 256 THEN n_regs
        |               ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                    // CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                    AS BIGINT) END AS ndv
        |        FROM (SELECT s, CAST(count(*) AS BIGINT) AS n_regs,
        |                     max(key) AS kth
        |              FROM (SELECT s, key,
        |                           row_number() OVER (PARTITION BY s
        |                                              ORDER BY key) AS rn
        |                    FROM (SELECT 'lo' AS s,
        |                                 md5(CAST(k AS VARCHAR)) AS key
        |                          FROM (SELECT DISTINCT k FROM lk)
        |                          UNION ALL
        |                          SELECT 'oo', md5(CAST(k AS VARCHAR))
        |                          FROM (SELECT DISTINCT k FROM ok)
        |                          UNION ALL
        |                          SELECT 'oc', md5(CAST(k AS VARCHAR))
        |                          FROM (SELECT DISTINCT k FROM oc)
        |                          UNION ALL
        |                          SELECT 'cb', md5(CAST(k AS VARCHAR))
        |                          FROM (SELECT DISTINCT k FROM cbk)) u) t
        |              WHERE rn <= 256 GROUP BY s)),
        |cnt AS (SELECT 'lo' AS s, CAST(count(k) AS BIGINT) AS n FROM lk
        |        UNION ALL SELECT 'oo', CAST(count(k) AS BIGINT) FROM ok
        |        UNION ALL SELECT 'oc', CAST(count(k) AS BIGINT) FROM oc
        |        UNION ALL SELECT 'cb', CAST(count(k) AS BIGINT) FROM cbk),
        |e1 AS (SELECT CAST(CAST(cl.n AS HUGEINT) * co.n
        |              // greatest(vl.ndv, vo.ndv, 1) AS BIGINT) AS est_lo
        |       FROM cnt cl, cnt co, ndv vl, ndv vo
        |       WHERE cl.s = 'lo' AND co.s = 'oo'
        |         AND vl.s = 'lo' AND vo.s = 'oo'),
        |e2 AS (SELECT CAST(CAST(cc.n AS HUGEINT) * cb2.n
        |              // greatest(vc.ndv, vb.ndv, 1) AS BIGINT) AS est_oc
        |       FROM cnt cc, cnt cb2, ndv vc, ndv vb
        |       WHERE cc.s = 'oc' AND cb2.s = 'cb'
        |         AND vc.s = 'oc' AND vb.s = 'cb'),
        |x1 AS (SELECT CAST(count(*) AS BIGINT) AS exact_lo
        |       FROM lk JOIN ok USING (k)),
        |x2 AS (SELECT CAST(count(*) AS BIGINT) AS exact_oc
        |       FROM oc JOIN cbk USING (k))
        |SELECT e1.est_lo, e2.est_oc,
        |       CASE WHEN e2.est_oc <= e1.est_lo THEN 'oc_first'
        |            ELSE 'lo_first' END AS chosen_order,
        |       x1.exact_lo, x2.exact_oc
        |FROM e1, e2, x1, x2""".stripMargin)),

    QueryDef("q494_analyze_hook", (s, d) => {
      // ANALYZE as part of the MATERIALIZATION LIFECYCLE
      // (TableStats.analyzeHook — dbt post_hook position: main DML, then
      // hooks, then commit; Snowflake keeps this metadata automatically,
      // Spark CBO needs a separate ANALYZE command a pipeline must
      // remember to run): the model DECLARES its profiled columns, every
      // materialization — the initial CTAS and the incremental MERGE
      // alike — atomically rewrites the `<model>__stats_*` sidecar
      // tables, and the planner reads them by table name
      // (TableStats.readProfile), never rescanning data at plan time.
      // Two-run lifecycle over a buyers dimension: run 1 admits buyers
      // before 1995-07-01 (777 keys at sf0.01 — under the 1100-row
      // broadcast budget -> broadcast_right), run 2's merge admits the
      // rest (1500 keys -> the SAME hook-refreshed read now says
      // shuffle). RegistrySpec pins the hook firing on both
      // materialization kinds and the sidecar swap atomicity.
      //
      // Round 15 (VERDICT r14 #1): the downstream join is now DECLARED —
      // `ctx.join("fact_ck", "buyers", ...)` in the buyer_orders model
      // resolves the physical plan from the hook-maintained __stats_*
      // sidecars inside the materializer (broadcast where the stored
      // counts fit the budget, shuffle where they don't — RegistrySpec
      // pins BroadcastHashJoin exactly where the stats advise it), and
      // exact_join_rows reads the DECLARED join's relation. The
      // adviseEquiJoin columns below replay the same stored profiles the
      // resolver consumed — oracle unchanged, the fact side's profile now
      // written by its own model's analyze hook instead of hand-built
      // sidecar tables.
      import graft.engine.{Incremental, IncrementalMat, Model, Registry,
        TableMat, TableStats, ViewMat}
      val wh = Scratch.warehouse("q494", d, s,
        Seq("buyers", "buyers__stats_counts", "buyers__stats_regs",
          "fact_ck", "fact_ck__stats_counts", "fact_ck__stats_regs"))
      val reg = new Registry(s, wh)
      reg.source("ord_src", table(s, d, "orders").select(
        col("o_custkey").cast("long").as("ck"),
        to_date(col("o_orderdate")).as("day")))
      reg.register(Model("fact_ck", Seq("ord_src"), TableMat(),
        ctx => ctx.ref("ord_src").select(col("ck")),
        postHooks = Seq(TableStats.analyzeHook(Seq("ck")))))
      reg.register(Model("buyers", Seq("ord_src"),
        IncrementalMat(Incremental.Merge, Seq("ck")),
        ctx => {
          val cut = lit("1995-07-01").cast("date")
          val w = if (ctx.isIncremental)
            ctx.ref("ord_src").filter(col("day") >= cut)
          else ctx.ref("ord_src").filter(col("day") < cut)
          w.groupBy(col("ck")).agg(min(col("day")).as("first_day"))
        },
        postHooks = Seq(TableStats.analyzeHook(Seq("ck")))))
      reg.register(Model("buyer_orders", Seq("fact_ck", "buyers"), ViewMat,
        ctx => ctx.join("fact_ck", "buyers", Seq("ck"),
          broadcastMaxRows = 1100L)))
      def advise(run: String) = {
        val aProf = TableStats.readProfile(wh, "fact_ck", "ck", "a")
        val bProf = TableStats.readProfile(wh, "buyers", "ck", "b")
        val exact = reg.relation("buyer_orders")
          .agg(count(lit(1)).cast("long").as("exact_join_rows"))
        TableStats.adviseEquiJoin(aProf, bProf, broadcastMaxRows = 1100L)
          .crossJoin(exact).withColumn("run", lit(run))
          // EAGER: run 1's row must materialize before run 2's merge
          // and hook rewrite the stored stats it reads
          .pinEager()
      }
      reg.run()
      val r1 = advise("run1_initial")
      reg.run() // merge admits the rest; the post-hook re-profiles
      r1.unionByName(advise("run2_merged"))
    }, Some(
      """WITH o AS (SELECT CAST(o_custkey AS BIGINT) AS ck,
        |                  CAST(o_orderdate AS DATE) AS day FROM orders),
        |b1 AS (SELECT DISTINCT ck FROM o WHERE day < DATE '1995-07-01'),
        |b2 AS (SELECT DISTINCT ck FROM o),
        |fa AS (SELECT CAST(count(ck) AS BIGINT) AS n_a FROM o),
        |fn AS (SELECT CASE WHEN n_regs < 256 THEN n_regs
        |              ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                   // CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                   AS BIGINT) END AS ndv_a
        |       FROM (SELECT CAST(count(*) AS BIGINT) AS n_regs, max(key) AS kth
        |             FROM (SELECT key, row_number() OVER (ORDER BY key) AS rn
        |                   FROM (SELECT md5(CAST(ck AS VARCHAR)) AS key
        |                         FROM (SELECT DISTINCT ck FROM o))) t
        |             WHERE rn <= 256)),
        |c1 AS (SELECT CAST(count(ck) AS BIGINT) AS n_b FROM b1),
        |c2 AS (SELECT CAST(count(ck) AS BIGINT) AS n_b FROM b2),
        |v1 AS (SELECT CASE WHEN n_regs < 256 THEN n_regs
        |              ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                   // CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                   AS BIGINT) END AS ndv_b
        |       FROM (SELECT CAST(count(*) AS BIGINT) AS n_regs, max(key) AS kth
        |             FROM (SELECT key, row_number() OVER (ORDER BY key) AS rn
        |                   FROM (SELECT md5(CAST(ck AS VARCHAR)) AS key
        |                         FROM b1)) t
        |             WHERE rn <= 256)),
        |v2 AS (SELECT CASE WHEN n_regs < 256 THEN n_regs
        |              ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                   // CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                   AS BIGINT) END AS ndv_b
        |       FROM (SELECT CAST(count(*) AS BIGINT) AS n_regs, max(key) AS kth
        |             FROM (SELECT key, row_number() OVER (ORDER BY key) AS rn
        |                   FROM (SELECT md5(CAST(ck AS VARCHAR)) AS key
        |                         FROM b2)) t
        |             WHERE rn <= 256)),
        |x1 AS (SELECT CAST(count(*) AS BIGINT) AS exact_join_rows
        |       FROM o JOIN b1 USING (ck)),
        |x2 AS (SELECT CAST(count(*) AS BIGINT) AS exact_join_rows
        |       FROM o JOIN b2 USING (ck)),
        |r1 AS (SELECT fa.n_a, fn.ndv_a, c1.n_b, v1.ndv_b,
        |              CAST(CAST(fa.n_a AS HUGEINT) * c1.n_b
        |                   // greatest(fn.ndv_a, v1.ndv_b, 1) AS BIGINT)
        |                AS est_join_rows,
        |              CASE WHEN least(fa.n_a, c1.n_b) > 1100 THEN 'shuffle'
        |                   WHEN fa.n_a <= c1.n_b THEN 'broadcast_left'
        |                   ELSE 'broadcast_right' END AS join_plan,
        |              x1.exact_join_rows, 'run1_initial' AS run
        |       FROM fa, fn, c1, v1, x1),
        |r2 AS (SELECT fa.n_a, fn.ndv_a, c2.n_b, v2.ndv_b,
        |              CAST(CAST(fa.n_a AS HUGEINT) * c2.n_b
        |                   // greatest(fn.ndv_a, v2.ndv_b, 1) AS BIGINT)
        |                AS est_join_rows,
        |              CASE WHEN least(fa.n_a, c2.n_b) > 1100 THEN 'shuffle'
        |                   WHEN fa.n_a <= c2.n_b THEN 'broadcast_left'
        |                   ELSE 'broadcast_right' END AS join_plan,
        |              x2.exact_join_rows, 'run2_merged' AS run
        |       FROM fa, fn, c2, v2, x2)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2""".stripMargin)),

    QueryDef("q495_point_selectivity_interval", (s, d) => {
      // point-predicate selectivity as a CERTIFIED INTERVAL from two
      // stored sketches — `WHERE col = v` priced without data: Count-Min
      // NEVER underestimates (upper bound, deterministic given the
      // registers), the Misra-Gries stored count NEVER overestimates
      // (lower bound) and self-certifies its ceiling mg_count +
      // (n_total - stored_mass) div (k+1) — so the truth provably lies
      // in [mg_lo, min(cm_est, mg_ceiling)], and a value ABSENT from
      // the MG summary is provably below the ceiling alone ([0, err]).
      // documents.lang at k=3 keeps {en, zh, es} past the cut-at-70 and
      // drops {de, fr}; the probe set exercises stored keys, dropped
      // keys and a never-seen key ('xx': CM reads its collision noise,
      // interval collapses toward [0, ~0]). Exact counts sit alongside
      // with the inside-interval flag — 1 on every probe BY THEOREM,
      // not luck; the oracle replays both sketches and every bound.
      import graft.functions.Sketches
      val wh = Scratch.warehouse("q495", d, s,
        Seq("cm_regs", "mg_regs", "lang_tot"))
      val langs = table(s, d, "documents").select(col("lang"))
      wh.writeSwap("cm_regs",
        Sketches.cmRegisters(langs, Nil, col("lang"), d = 4, w = 256))
      wh.writeSwap("mg_regs",
        Sketches.mgRegisters(langs, Nil, col("lang"), 3))
      wh.writeSwap("lang_tot",
        langs.agg(count(col("lang")).cast("long").as("n_total")))
      import s.implicits._
      val probes = Seq("en", "zh", "es", "de", "fr", "xx").toDF("key")
      val cm = Sketches.cmEstimate(wh.read("cm_regs"), probes, col("key"),
        d = 4, w = 256)
      val bound = Sketches.mgBound(wh.read("mg_regs"), Nil,
        wh.read("lang_tot"), 3)
        .select(col("n_total"), col("err_bound"))
      val exact = langs.groupBy(col("lang").as("key"))
        .agg(count(lit(1)).cast("long").as("exact_count"))
      cm.join(wh.read("mg_regs").withColumnRenamed("mg_value", "key"),
          Seq("key"), "left")
        .crossJoin(bound)
        .join(exact, Seq("key"), "left")
        .withColumn("exact_count", coalesce(col("exact_count"), lit(0L)))
        .withColumn("sel_lo", coalesce(col("mg_count"), lit(0L)))
        .withColumn("mg_ceiling", col("sel_lo") + col("err_bound"))
        .withColumn("sel_up", least(col("cm_est"), col("mg_ceiling")))
        .withColumn("inside",
          when(col("exact_count") >= col("sel_lo") &&
            col("exact_count") <= col("sel_up"), lit(1L)).otherwise(lit(0L)))
        .drop("mg_count", "n_total", "err_bound")
    }, Some(
      """WITH l AS (SELECT lang FROM documents WHERE lang IS NOT NULL),
        |probes AS (SELECT unnest(['en','zh','es','de','fr','xx']) AS key),
        |cells AS (SELECT cm_row, cm_col, CAST(count(*) AS BIGINT) AS cm_count
        |          FROM (SELECT i AS cm_row,
        |                       CAST(('0x' || substr(md5(lang || '|cm' ||
        |                              CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
        |                         % 256 AS cm_col
        |                FROM l, LATERAL (SELECT unnest([0, 1, 2, 3]) AS i) i)
        |          GROUP BY 1, 2),
        |pc AS (SELECT p.key, min(coalesce(c.cm_count, 0)) AS cm_est
        |       FROM (SELECT key, i AS cm_row,
        |                    CAST(('0x' || substr(md5(key || '|cm' ||
        |                           CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
        |                      % 256 AS cm_col
        |             FROM probes, LATERAL (SELECT unnest([0, 1, 2, 3]) AS i) i)
        |         p
        |       LEFT JOIN cells c USING (cm_row, cm_col)
        |       GROUP BY 1),
        |ct AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM l GROUP BY 1),
        |r AS (SELECT lang, c, row_number() OVER (ORDER BY c DESC, lang) AS rn
        |      FROM ct),
        |cu AS (SELECT coalesce(max(CASE WHEN rn = 4 THEN c END), 0) AS cut
        |       FROM r),
        |mg AS (SELECT lang AS key, c - cu.cut AS mg_count FROM r, cu
        |       WHERE c > cu.cut),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM l),
        |bd AS (SELECT (nt.n_total
        |               - CAST(coalesce((SELECT sum(mg_count) FROM mg), 0)
        |                      AS BIGINT)) // 4 AS err_bound FROM nt)
        |SELECT pc.key, pc.cm_est,
        |       CAST(coalesce(mg.mg_count, 0) AS BIGINT) AS sel_lo,
        |       CAST(coalesce(mg.mg_count, 0) + bd.err_bound AS BIGINT)
        |         AS mg_ceiling,
        |       CAST(least(pc.cm_est,
        |                  coalesce(mg.mg_count, 0) + bd.err_bound) AS BIGINT)
        |         AS sel_up,
        |       CAST(coalesce(ct.c, 0) AS BIGINT) AS exact_count,
        |       CAST(CASE WHEN coalesce(ct.c, 0)
        |                        >= coalesce(mg.mg_count, 0)
        |                   AND coalesce(ct.c, 0)
        |                        <= least(pc.cm_est,
        |                                 coalesce(mg.mg_count, 0)
        |                                   + bd.err_bound)
        |                 THEN 1 ELSE 0 END AS BIGINT) AS inside
        |FROM pc LEFT JOIN mg USING (key)
        |LEFT JOIN ct ON ct.lang = pc.key
        |CROSS JOIN bd""".stripMargin)),

    QueryDef("q496_stream_profile_advisor", (s, d) => {
      // the STREAM x STATS cell, closing the maintenance matrix the
      // family now spans — batch build (q487), hook-on-materialize
      // (q494), rolling period merge (q489), and HERE the ingest stream
      // itself maintaining the planner's statistics (no ANALYZE job
      // anywhere): one exploded (ts_col, value) stream feeds BOTH
      // sidecars — per-column KMV registers through the kmvSampleStream
      // bridge (idempotent re-take-k merge, k-bounded state, stream ==
      // batch as an IDENTITY) and per-column counts through the
      // sum-combining aggStream bridge — and the advisor reads the
      // stream-maintained tables exactly like any stored profile.
      // events.user_id holds 150 distinct ids (< k), so the streamed
      // registers ARE the distinct set and plan-time NDV reads EXACT
      // through the stream; vs the batch-profiled customer dim:
      // est 9398 vs exact 10000 (every event joins), broadcast_right
      // under the 2000 budget. Whole-table replay is the oracle — the
      // merge laws make it an identity, not an approximation check.
      import graft.engine.TableStats
      import graft.streaming.EventsStream
      val wh = Scratch.warehouse("q496", d, s,
        Seq("sp_regs", "sp_counts", "dim_counts", "dim_regs"))
      Scratch.resetCheckpoint(wh, "sp_regs")
      Scratch.resetCheckpoint(wh, "sp_counts")
      def pairs(df: org.apache.spark.sql.DataFrame) = {
        val ps = Seq("user_id", "event_type").map(c =>
          struct(lit(c).as("ts_col"), col(c).cast("string").as("v")))
        df.select(explode(array(ps: _*)).as("e"))
          .select(col("e.ts_col").as("ts_col"), col("e.v").as("v"))
      }
      val st = pairs(EventsStream.readEvents(s, d))
      EventsStream.kmvSampleStream(st.filter(col("v").isNotNull), wh,
        "sp_regs", Seq("ts_col"), col("v"), 256).awaitTermination()
      EventsStream.aggStream(st, wh, "sp_counts", Seq("ts_col"),
        Seq("n_rows" -> "sum", "n_notnull" -> "sum"))(b =>
        b.groupBy(col("ts_col"))
          .agg(count(lit(1)).cast("long").as("n_rows"),
            count(col("v")).cast("long").as("n_notnull")))
        .awaitTermination()
      val dim = table(s, d, "customer")
        .select(col("c_custkey").cast("long").as("ck"))
      wh.writeSwap("dim_counts", TableStats.columnCounts(dim, Seq("ck")))
      wh.writeSwap("dim_regs", TableStats.columnRegisters(dim, Seq("ck"), 256))
      val aProf = TableStats.sideProfile(wh.read("sp_counts"),
        TableStats.ndvEstimate(wh.read("sp_regs"), 256), "user_id", "a")
      val bProf = TableStats.sideProfile(wh.read("dim_counts"),
        TableStats.ndvEstimate(wh.read("dim_regs"), 256), "ck", "b")
      val exact = events(s, d)
        .select(col("user_id").cast("long").as("ck"))
        .join(dim, Seq("ck"))
        .agg(count(lit(1)).cast("long").as("exact_join_rows"))
      TableStats.adviseEquiJoin(aProf, bProf, broadcastMaxRows = 2000L)
        .crossJoin(exact)
    }, Some(
      """WITH e AS (SELECT CAST(user_id AS BIGINT) AS uid FROM events),
        |c AS (SELECT CAST(c_custkey AS BIGINT) AS ck FROM customer),
        |ca AS (SELECT CAST(count(*) AS BIGINT) AS n_a,
        |              CAST(count(uid) AS BIGINT) AS nn_a FROM e),
        |va AS (SELECT CASE WHEN n_regs < 256 THEN n_regs
        |              ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                   // CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                   AS BIGINT) END AS ndv_a
        |       FROM (SELECT CAST(count(*) AS BIGINT) AS n_regs, max(key) AS kth
        |             FROM (SELECT key, row_number() OVER (ORDER BY key) AS rn
        |                   FROM (SELECT md5(CAST(uid AS VARCHAR)) AS key
        |                         FROM (SELECT DISTINCT uid FROM e
        |                               WHERE uid IS NOT NULL))) t
        |             WHERE rn <= 256)),
        |cb AS (SELECT CAST(count(ck) AS BIGINT) AS n_b FROM c),
        |vb AS (SELECT CASE WHEN n_regs < 256 THEN n_regs
        |              ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                   // CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
        |                   AS BIGINT) END AS ndv_b
        |       FROM (SELECT CAST(count(*) AS BIGINT) AS n_regs, max(key) AS kth
        |             FROM (SELECT key, row_number() OVER (ORDER BY key) AS rn
        |                   FROM (SELECT md5(CAST(ck AS VARCHAR)) AS key
        |                         FROM (SELECT DISTINCT ck FROM c))) t
        |             WHERE rn <= 256)),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_join_rows
        |       FROM e JOIN c ON e.uid = c.ck)
        |SELECT ca.nn_a AS n_a, va.ndv_a, cb.n_b, vb.ndv_b,
        |       CAST(CAST(ca.nn_a AS HUGEINT) * cb.n_b
        |            // greatest(va.ndv_a, vb.ndv_b, 1) AS BIGINT)
        |         AS est_join_rows,
        |       CASE WHEN least(ca.nn_a, cb.n_b) > 2000 THEN 'shuffle'
        |            WHEN ca.nn_a <= cb.n_b THEN 'broadcast_left'
        |            ELSE 'broadcast_right' END AS join_plan,
        |       ex.exact_join_rows
        |FROM ca, va, cb, vb, ex""".stripMargin)),

    QueryDef("q497_cardinality_feedback", (s, d) => {
      // cardinality FEEDBACK — the LEO loop (Stillger et al., VLDB 2001:
      // DB2's LEarning Optimizer), TableStats.feedbackAdjust: executed
      // queries record (estimated, actual) per predicate family into a
      // stored feedback table, and future estimates multiply by the
      // observed sum(actual) div sum(est). The case statistics cannot
      // see: a DERIVED column (price band = cents div 2M — the paper's
      // Make/Model shape; this testdata is deliberately independent
      // everywhere else, value-inspected per the r11 lesson, so the
      // functional dependency is the honest correlation available). The
      // independence product for `cents <= c AND band = 0` with c under
      // the band edge is wrong by exactly W/w(band0) = 5.44x BY
      // CONSTRUCTION (the band predicate is implied). Feedback must be
      // keyed by predicate FAMILY — same column pair AND same
      // containment structure (LEO's keying): a first draft trained on
      // a (c, band=1) predicate with a different containment degree and
      // the blended ratio corrected only half the error. Two same-family
      // training predicates (c = 500k, 1M on band 0) against the
      // held-out c = 1.5M: raw 1468 (-82%) -> adjusted 8258 vs exact
      // 8104 (+1.9%) — from stored summaries + 2 feedback rows, never
      // rescanning at estimate time; all integer arithmetic, oracle-
      // replayed through the same compressed summary. Value-inspected.
      import graft.engine.TableStats
      import graft.functions.QuantileSketch
      val wh = Scratch.warehouse("q497", d, s,
        Seq("cents_sum", "band_sum", "feedback"))
      val li = table(s, d, "lineitem")
        .select(floor(col("l_extendedprice") * 100 + 0.5)
          .cast("long").as("cents"))
        .withColumn("band", call_function("div", col("cents"), lit(2000000L)))
      wh.writeSwap("cents_sum", QuantileSketch.qsCompress(
        QuantileSketch.qsRegisters(li, Nil, col("cents")), Nil, 256))
      wh.writeSwap("band_sum",
        QuantileSketch.qsRegisters(li, Nil, col("band")))
      def estFor(c: Long, b: Long) = TableStats
        .rangeCountEstimate(wh.read("cents_sum"), Nil, 0L, c, 256)
        .select(col("est_in_range").as("__rc"))
        .crossJoin(TableStats
          .rangeCountEstimate(wh.read("band_sum"), Nil, b, b, 256)
          .select(col("est_in_range").as("__rb"), col("w_total")))
        .withColumn("est_ind", call_function("div",
          col("__rc").cast("decimal(38,0)") * col("__rb").cast("decimal(38,0)"),
          greatest(col("w_total"), lit(1L)).cast("decimal(38,0)"))
          .cast("long"))
        .select(col("est_ind"))
      def actualFor(c: Long, b: Long) = li
        .filter(col("cents") <= c && col("band") === b)
        .agg(count(lit(1)).cast("long").as("actual"))
      for ((c, b) <- Seq((500000L, 0L), (1000000L, 0L)))
        wh.append("feedback",
          estFor(c, b).withColumnRenamed("est_ind", "fb_est")
            .crossJoin(actualFor(c, b).withColumnRenamed("actual", "fb_actual")))
      TableStats.feedbackAdjust(estFor(1500000L, 0L),
        wh.read("feedback"), "est_ind")
        .crossJoin(actualFor(1500000L, 0L)
          .withColumnRenamed("actual", "exact_joint"))
    }, Some(
      """WITH e AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |                    AS v FROM lineitem),
        |r AS (SELECT v, CAST(count(*) AS BIGINT) AS w FROM e GROUP BY 1),
        |cb AS (SELECT v, w, sum(w) OVER (ORDER BY v) AS cum,
        |              (SELECT sum(w) FROM r) AS tot FROM r),
        |kb AS (SELECT v, cum - coalesce(lag(cum) OVER (ORDER BY v), 0) AS w
        |       FROM (SELECT v, cum FROM cb
        |             WHERE (cum // ((tot + 255) // 256))
        |                     > ((cum - w) // ((tot + 255) // 256))
        |                OR cum = tot) t),
        |bc AS (SELECT v // 2000000 AS b, CAST(count(*) AS BIGINT) AS w
        |       FROM e GROUP BY 1),
        |wt AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM bc),
        |est AS (SELECT c, b,
        |               CAST(CAST((SELECT sum(w) FROM kb WHERE v <= c)
        |                         AS HUGEINT)
        |                    * (SELECT w FROM bc WHERE b = t.b)
        |                    // greatest((SELECT w_total FROM wt), 1)
        |                    AS BIGINT) AS est_ind
        |        FROM (VALUES (500000, 0), (1000000, 0), (1500000, 0))
        |             t(c, b)),
        |act AS (SELECT c, b, CAST(count(*) AS BIGINT) AS actual
        |        FROM (VALUES (500000, 0), (1000000, 0), (1500000, 0))
        |             t(c, b)
        |        LEFT JOIN e ON e.v <= t.c AND e.v // 2000000 = t.b
        |        GROUP BY 1, 2),
        |fb AS (SELECT CAST(sum(est.est_ind) AS BIGINT) AS fb_est_sum,
        |              CAST(sum(act.actual) AS BIGINT) AS fb_actual_sum
        |       FROM est JOIN act USING (c, b)
        |       WHERE NOT (est.c = 1500000 AND est.b = 0)),
        |tst AS (SELECT est.est_ind, act.actual AS exact_joint
        |        FROM est JOIN act USING (c, b)
        |        WHERE est.c = 1500000 AND est.b = 0)
        |SELECT tst.est_ind, fb.fb_actual_sum, fb.fb_est_sum,
        |       CASE WHEN fb.fb_est_sum > 0
        |            THEN CAST(CAST(tst.est_ind AS HUGEINT) * fb.fb_actual_sum
        |                      // fb.fb_est_sum AS BIGINT)
        |            ELSE tst.est_ind END AS est_ind_adjusted,
        |       tst.exact_joint
        |FROM tst, fb""".stripMargin)),

    QueryDef("q498_cluster_advisor", (s, d) => {
      // the LAYOUT question the pruning surface creates
      // (TableStats.clusterAdvisor + columnSummaries): q454's manifest
      // made range-clustered layouts skippable — but WHICH column earns
      // the clustering? Answered from stored per-column quantile
      // summaries (one scan, one k-compression for all candidates) plus
      // a DECLARED workload: a range predicate on the cluster column
      // scans ~its selectivity's worth of files, any other predicate
      // scans everything, so each candidate is priced as the
      // workload-weighted scan fraction. Workload: 9 weight on the
      // cents range [$10k, $50k] (sel ~38%), 1 weight on an okey range
      // [100, 5000] (sel ~33% — okeys are DENSE 0..14999 here, probed
      // per the value-inspection lesson): clustering by cents prices
      // 445449 ppm of the workload's scan mass, by okey 932510 — cents
      // chosen, value-inspected. The spec
      // closes the loop physically: the chosen layout's manifest prunes
      // the dominant predicate's files, the rejected layout reads all.
      // All estimate arithmetic replayed through both compressed
      // summaries.
      import graft.engine.TableStats
      import s.implicits._
      val wh = Scratch.warehouse("q498", d, s, Seq("wl_sum"))
      val li = table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("okey"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      wh.writeSwap("wl_sum",
        TableStats.columnSummaries(li, Seq("okey", "cents"), 256))
      val workload = Seq(
        ("cents", 1000000L, 5000000L, 9L),
        ("okey", 100L, 5000L, 1L))
        .toDF("wl_col", "wl_lo", "wl_hi", "wl_weight")
      TableStats.clusterAdvisor(wh.read("wl_sum"), workload,
        Seq("cents", "okey"))
    }, Some(
      """WITH e AS (SELECT CAST(l_orderkey AS BIGINT) AS okey,
        |                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |                    AS cents FROM lineitem),
        |rc AS (SELECT cents AS v, CAST(count(*) AS BIGINT) AS w FROM e
        |       GROUP BY 1),
        |cc AS (SELECT v, w, sum(w) OVER (ORDER BY v) AS cum,
        |              (SELECT sum(w) FROM rc) AS tot FROM rc),
        |kc AS (SELECT v, cum - coalesce(lag(cum) OVER (ORDER BY v), 0) AS w
        |       FROM (SELECT v, cum FROM cc
        |             WHERE (cum // ((tot + 255) // 256))
        |                     > ((cum - w) // ((tot + 255) // 256))
        |                OR cum = tot) t),
        |ro AS (SELECT okey AS v, CAST(count(*) AS BIGINT) AS w FROM e
        |       GROUP BY 1),
        |co AS (SELECT v, w, sum(w) OVER (ORDER BY v) AS cum,
        |              (SELECT sum(w) FROM ro) AS tot FROM ro),
        |ko AS (SELECT v, cum - coalesce(lag(cum) OVER (ORDER BY v), 0) AS w
        |       FROM (SELECT v, cum FROM co
        |             WHERE (cum // ((tot + 255) // 256))
        |                     > ((cum - w) // ((tot + 255) // 256))
        |                OR cum = tot) t),
        |selc AS (SELECT CAST(sum(CASE WHEN v >= 1000000 AND v <= 5000000
        |                              THEN w ELSE 0 END) AS HUGEINT)
        |                  * 1000000
        |                // greatest(CAST(sum(w) AS HUGEINT), 1) AS frac
        |         FROM kc),
        |selo AS (SELECT CAST(sum(CASE WHEN v >= 100 AND v <= 5000
        |                              THEN w ELSE 0 END) AS HUGEINT)
        |                  * 1000000
        |                // greatest(CAST(sum(w) AS HUGEINT), 1) AS frac
        |         FROM ko),
        |cand AS (SELECT 'cents' AS cluster_col,
        |                CAST((9 * selc.frac + 1 * 1000000) // 10 AS BIGINT)
        |                  AS est_scan_ppm
        |         FROM selc
        |         UNION ALL
        |         SELECT 'okey',
        |                CAST((9 * 1000000 + 1 * selo.frac) // 10 AS BIGINT)
        |         FROM selo)
        |SELECT cluster_col, est_scan_ppm,
        |       CAST(CASE WHEN row_number() OVER
        |                        (ORDER BY est_scan_ppm ASC, cluster_col ASC)
        |                      = 1
        |                 THEN 1 ELSE 0 END AS BIGINT) AS chosen
        |FROM cand""".stripMargin)),

    QueryDef("q499_planned_q3", (s, d) => {
      // CAPSTONE: TPC-H Q3 planned END TO END by the engine's own
      // machinery — every plan-time decision reads STORED state, never
      // the data: (1) both date ranges route through min/max manifests
      // on epoch-day clustered layouts (readPruned — file set decided
      // before Spark lists anything); (2) the JOIN ORDER is the q493
      // stored-stats comparison, collected as two one-row estimates
      // (oc_first wins ~20x here) and branched on at build time — the
      // Selinger pick as driver code; (3) the dim side broadcasts
      // because its hook-maintained profile row proves it small
      // (TableStats.applyAdvice with the stored decision). Semantics
      // are exactly Q3 over this schema (no o_shippriority column):
      // top-10 orders by revenue cents among BUILDING customers,
      // ordered before the cutoff, shipped after it. The oracle is the
      // plain three-way join — pruning, ordering and broadcasting must
      // be invisible to the result.
      import graft.engine.TableStats
      val wh = Scratch.warehouse("q499", d, s, Seq(
        "c_b", "c_b__stats_counts", "c_b__stats_regs",
        "ord", "ord__stats_counts", "ord__stats_regs",
        "li", "li__stats_counts", "li__stats_regs"))
      val day = (c: Column) => datediff(to_date(c), lit("1970-01-01").cast("date"))
      val cutoff = java.time.LocalDate.parse("1996-06-01").toEpochDay
      // --- ingest: clustered layouts + manifests + ANALYZE profiles
      wh.writeSwap("c_b", table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").cast("long").as("ck")))
      wh.writeSwap("ord", table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        col("o_custkey").cast("long").as("ck"),
        day(col("o_orderdate")).as("od_day"))
        .repartitionByRange(16, col("od_day")).sortWithinPartitions("od_day"),
        statsCols = Seq("od_day"))
      wh.writeSwap("li", table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("okey"),
        day(col("l_shipdate")).as("ship_day"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100
          + 0.5).cast("long").as("rev_cents"))
        .repartitionByRange(16, col("ship_day"))
        .sortWithinPartitions("ship_day"),
        statsCols = Seq("ship_day"))
      TableStats.analyzeHook(Seq("ck"))(graft.engine.HookContext(
        s, wh, Some("c_b"), Some(wh.read("c_b"))))
      TableStats.analyzeHook(Seq("ck", "okey"))(graft.engine.HookContext(
        s, wh, Some("ord"), Some(wh.read("ord"))))
      TableStats.analyzeHook(Seq("okey"))(graft.engine.HookContext(
        s, wh, Some("li"), Some(wh.read("li"))))
      // --- plan time: stored stats only (two 1-row collects + profiles)
      val ordPruned = wh.readPruned("ord", "od_day", Long.MinValue + 1L,
        cutoff - 1L)
      val liPruned = wh.readPruned("li", "ship_day", cutoff + 1L,
        Long.MaxValue - 1L)
      val ocEst = TableStats.adviseEquiJoin(
        TableStats.readProfile(wh, "ord", "ck", "a"),
        TableStats.readProfile(wh, "c_b", "ck", "b"),
        broadcastMaxRows = 1000L).head() // 1-row plan-time collect
      val estOc = ocEst.getAs[Long]("est_join_rows")
      val estLo = TableStats.adviseEquiJoin(
        TableStats.readProfile(wh, "li", "okey", "a"),
        TableStats.readProfile(wh, "ord", "okey", "b"),
        broadcastMaxRows = 1000L)
        .head().getAs[Long]("est_join_rows") // the q493 lo-estimate
      val ocFirst = estOc <= estLo
      val joined =
        if (ocFirst)
          liPruned.join(TableStats.applyAdvice(
            ordPruned, wh.read("c_b"), Seq("ck"),
            ocEst.getAs[String]("join_plan")).select(col("okey")), Seq("okey"))
        else TableStats.applyAdvice(
          liPruned.join(ordPruned, Seq("okey")), wh.read("c_b"), Seq("ck"),
          ocEst.getAs[String]("join_plan"))
      joined
        .groupBy(col("okey"))
        .agg(sum(col("rev_cents")).cast("long").as("revenue_cents"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("revenue_cents").desc, col("okey").asc)
        .limit(10)
        .withColumn("planned_order",
          lit(if (ocFirst) "oc_first" else "lo_first"))
    }, Some(
      """WITH j AS (
        |  SELECT CAST(l.l_orderkey AS BIGINT) AS okey,
        |         CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100
        |                    + 0.5) AS BIGINT) AS rev
        |  FROM lineitem l
        |  JOIN orders o ON CAST(l.l_orderkey AS BIGINT)
        |                     = CAST(o.o_orderkey AS BIGINT)
        |  JOIN customer c ON CAST(o.o_custkey AS BIGINT)
        |                       = CAST(c.c_custkey AS BIGINT)
        |  WHERE c.c_mktsegment = 'BUILDING'
        |    AND CAST(o.o_orderdate AS DATE) < DATE '1996-06-01'
        |    AND CAST(l.l_shipdate AS DATE) > DATE '1996-06-01')
        |SELECT okey, CAST(sum(rev) AS BIGINT) AS revenue_cents,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       'oc_first' AS planned_order
        |FROM j GROUP BY 1
        |ORDER BY revenue_cents DESC, okey ASC LIMIT 10""".stripMargin)),

    QueryDef("q500_corpus_nightly", (s, d) => {
      // MILESTONE CAPSTONE: the nightly pretraining-corpus build as a
      // Registry DAG — the LLM-pipeline surface composed end to end
      // with a MATERIALIZED, profiled table at each stage: raw crawl
      // (documents + a documented planted re-crawl of doc_id % 7 == 0
      // under shifted ids — this corpus has zero natural exact dupes,
      // probed per the saturation lesson) -> `clean` (quality gate
      // n_chars >= 100, exact dedup on md5(text) keeping the smallest
      // doc_id, whitespace token counts; ANALYZE post-hook profiles
      // lang) -> `sample` (mixture-weighted bottom-32 KMV registers,
      // en = 1 / others x4 — the q476 upweight as a DAG stage) ->
      // `card` (the dataset card: per-lang raw/gated/clean/dupes/token
      // masses joined with the sample's realized composition). One
      // reg.run() materializes the DAG in dependency order; the oracle
      // replays every stage — gates, keep-min dedup, token split,
      // weighted sub-key order statistics, sample join — digit for
      // digit.
      import graft.engine.{Model, Registry, TableMat, TableStats, ViewMat}
      import graft.functions.Sketches
      val wh = Scratch.warehouse("q500", d, s,
        Seq("clean", "clean__stats_counts", "clean__stats_regs",
          "sample", "card"))
      val reg = new Registry(s, wh)
      val docs = table(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          col("lang"), col("n_chars").cast("long").as("n_chars"))
      reg.source("docs_raw", docs.unionByName(
        docs.filter(col("doc_id") % 7L === 0L)
          .withColumn("doc_id", col("doc_id") + 10000L)))
      reg.register(Model("clean", Seq("docs_raw"), TableMat(),
        ctx => ctx.ref("docs_raw")
          .filter(col("n_chars") >= 100L)
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"), max(col("lang")).as("lang"),
            max(col("text")).as("text"))
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_toks")),
        postHooks = Seq(TableStats.analyzeHook(Seq("lang")))))
      reg.register(Model("sample", Seq("clean"), TableMat(),
        ctx => Sketches.kmvWeightedRegisters(ctx.ref("clean"), Nil,
          col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(4L), 32, maxWeight = 4)))
      reg.register(Model("card", Seq("docs_raw", "clean", "sample"), ViewMat,
        ctx => {
          val raw = ctx.ref("docs_raw").groupBy(col("lang"))
            .agg(count(lit(1)).as("n_raw"),
              sum(when(col("n_chars") >= 100L, 1L).otherwise(0L))
                .cast("long").as("n_gated"))
          val clean = ctx.ref("clean").groupBy(col("lang"))
            .agg(count(lit(1)).as("n_clean"),
              sum(col("n_toks")).cast("long").as("tokens_total"))
          val sampled = ctx.ref("sample")
            .select(col("kmv_id").cast("long").as("doc_id"))
            .join(ctx.ref("clean").select(col("doc_id"), col("lang")),
              Seq("doc_id"))
            .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
          raw.join(clean, Seq("lang"))
            .join(sampled, Seq("lang"), "left")
            .withColumn("n_sampled", coalesce(col("n_sampled"), lit(0L)))
            .withColumn("dupes_removed", col("n_gated") - col("n_clean"))
        }))
      reg.run()
      reg.relation("card")
    }, Some(
      """WITH raw AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang,
        |         CAST(n_chars AS BIGINT) AS n_chars FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT) + 10000, text, lang,
        |         CAST(n_chars AS BIGINT) FROM documents
        |  WHERE doc_id % 7 = 0),
        |r AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_raw,
        |             CAST(sum(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END)
        |                  AS BIGINT) AS n_gated
        |      FROM raw GROUP BY 1),
        |cl AS (SELECT min(doc_id) AS doc_id, max(lang) AS lang,
        |              CAST(len(string_split(max(text), ' ')) AS BIGINT)
        |                AS n_toks
        |       FROM raw WHERE n_chars >= 100 GROUP BY md5(text)),
        |ca AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_clean,
        |              CAST(sum(n_toks) AS BIGINT) AS tokens_total
        |       FROM cl GROUP BY 1),
        |w AS (SELECT doc_id, lang,
        |             CASE WHEN lang = 'en' THEN 1 ELSE 4 END AS wt FROM cl),
        |sk AS (SELECT doc_id, lang,
        |              md5(CAST(doc_id AS VARCHAR) || '#'
        |                  || CAST(j AS VARCHAR)) AS kmv_key,
        |              CAST(doc_id AS VARCHAR) AS kmv_id
        |       FROM (SELECT doc_id, lang, wt,
        |                    unnest(range(0, CAST(wt AS BIGINT))) AS j
        |             FROM w) t),
        |sm AS (SELECT doc_id, lang FROM (
        |         SELECT doc_id, lang,
        |                row_number() OVER (ORDER BY kmv_key, kmv_id) AS rn
        |         FROM sk) t WHERE rn <= 32),
        |sc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled
        |       FROM sm GROUP BY 1)
        |SELECT r.lang, r.n_raw, r.n_gated, ca.n_clean, ca.tokens_total,
        |       CAST(coalesce(sc.n_sampled, 0) AS BIGINT) AS n_sampled,
        |       r.n_gated - ca.n_clean AS dupes_removed
        |FROM r JOIN ca USING (lang) LEFT JOIN sc USING (lang)""".stripMargin)),

    QueryDef("q501_stream_hot_routing", (s, d) => {
      // the skew router fed by the LIVE STREAM (EventsStream.mgStream +
      // Skew.hotColdJoin): the ingest stream maintains the Misra-Gries
      // heavy-hitter registers and their represented total; at plan
      // time the router reads <= k register rows + one total row and
      // certifies the hot set. MG counter VALUES are merge-tree-
      // dependent (batch boundaries shed different mass), so the
      // routing threshold reads the summary through its LAW: a planted
      // hot key owning a third of the stream keeps stored >= true -
      // (n - stored_mass)/(k+1) >= ~2200 under ANY batch split, while
      // cold keys' stored counts never exceed their ~45 true counts —
      // the certified set {1} is deterministic BY THEOREM even though
      // the digits are not. The routed join's RESULT is exactly the
      // plain join (batch-split-invariant), which is the oracle;
      // n_hot_certified rides along as the pinned plan readout.
      // Skew planted and documented: event_id % 3 = 0 remaps to user 1
      // (~3333 of 10000 rows at sf0.01 — the honest-shape discipline).
      import graft.engine.Skew
      import graft.streaming.EventsStream
      val wh = Scratch.warehouse("q501", d, s,
        Seq("hh_regs", "hh_regs__n"))
      Scratch.resetCheckpoint(wh, "hh_regs")
      val hk = (idc: Column, uc: Column) =>
        when(idc % 3L === 0L, 1L).otherwise(uc.cast("long"))
      EventsStream.mgStream(
        EventsStream.readEvents(s, d)
          .select(hk(col("event_id"), col("user_id")).as("hkey")),
        wh, "hh_regs", col("hkey"), 8).awaitTermination()
      val n = wh.read("hh_regs__n").head().getAs[Long]("n_total")
      val hot = wh.read("hh_regs")
        .filter(col("mg_count") >= lit(n / 10L))
        .select(col("mg_value")).collect().map(_.getString(0).toLong).toSeq
      val fact = events(s, d).select(
        hk(col("event_id"), col("user_id")).as("hk"),
        col("event_type"))
      val dim = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("hk"),
        col("c_nationkey").cast("long").as("nation"))
      Skew.hotColdJoin(fact, dim, "hk", hot)
        .groupBy(col("nation"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"))
        .withColumn("n_hot_certified", lit(hot.size.toLong))
    }, Some(
      """WITH f AS (SELECT CASE WHEN event_id % 3 = 0 THEN 1
        |                       ELSE CAST(user_id AS BIGINT) END AS hk,
        |                  event_type
        |           FROM events),
        |c AS (SELECT CAST(c_custkey AS BIGINT) AS hk,
        |             CAST(c_nationkey AS BIGINT) AS nation FROM customer)
        |SELECT c.nation, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT f.event_type) AS BIGINT) AS n_types,
        |       CAST(1 AS BIGINT) AS n_hot_certified
        |FROM f JOIN c USING (hk)
        |GROUP BY 1""".stripMargin))
  )
}
