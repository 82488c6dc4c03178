package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.QuantileSketch
import graft.operators.Features
import graft.sources.Sources.{events, table}
import graft.engine.Pin.PinOps

/** Round-12 battery: the mergeable quantile-summary sketch family
  * (deterministic KLL-lineage compactor — registers, compaction, merge,
  * rank cuts, and the streaming register variant) plus the
  * stored-baseline incremental drift lifecycle. Same exact-arithmetic
  * discipline as every battery: integer windows, truncating divisions on
  * non-negative operands only, oracles replay compression and merge
  * verbatim.
  */
object Round12Queries extends QuerySet {

  /** q445/q446 shared pipeline: per-(returnflag, ship-month) exact
    * registers on price cents, compressed at k=32 (level 1), then merged
    * across months into one per-returnflag summary at k=32 (level 2)
    * — two genuine compaction levels, so the oracle replays compress AND
    * merge-recompress. Observed vs exact quantiles at sf0.01: every cut
    * lands 199-314 ranks above target on n ~ 20k/flag (max 1.6%), inside
    * the declared s1+s2 envelope (~8 + ~627 = ~635 ranks, 3.2%) —
    * value-inspected; the spec pins the bound on a hand vector.
    */
  private def mergedPriceSummary(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val li = table(s, d, "lineitem").withColumn("ship_month",
      (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long"))
    val lvl1 = QuantileSketch.qsCompress(
      QuantileSketch.qsRegisters(li, Seq("l_returnflag", "ship_month"),
        Features.cents(col("l_extendedprice"))),
      Seq("l_returnflag", "ship_month"), k = 32)
    QuantileSketch.qsCompress(lvl1.drop("ship_month"),
      Seq("l_returnflag"), k = 32)
  }

  /** The oracle CTE chain shared by q445/q446: compress level 1 per
    * (rf, sm), merge + recompress per rf — kept rows are those whose
    * cumulative-weight range covers a stride multiple (floor-division
    * step test; all operands non-negative so `//` == Spark `div`), plus
    * the group maximum; kept weights telescope from kept cumulative
    * ranks. Window functions evaluate after WHERE in the same block, so
    * the lag-over-kept is exactly the Spark post-filter window.
    */
  private val summaryCtes: String =
    s"""WITH base AS (
       |  SELECT l_returnflag AS rf,
       |         CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS sm,
       |         ${centsSql("l_extendedprice")} AS v
       |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
       |r1 AS (SELECT rf, sm, v, CAST(count(*) AS BIGINT) AS w
       |       FROM base GROUP BY 1, 2, 3),
       |c1 AS (SELECT rf, sm, v, w,
       |              sum(w) OVER (PARTITION BY rf, sm ORDER BY v) AS cum,
       |              sum(w) OVER (PARTITION BY rf, sm) AS tot
       |       FROM r1),
       |k1 AS (SELECT rf, sm, v, cum,
       |              cum - coalesce(lag(cum)
       |                OVER (PARTITION BY rf, sm ORDER BY v), 0) AS wt
       |       FROM c1
       |       WHERE (cum // ((tot + 31) // 32)) > ((cum - w) // ((tot + 31) // 32))
       |          OR cum = tot),
       |r2 AS (SELECT rf, v, CAST(sum(wt) AS BIGINT) AS w
       |       FROM k1 GROUP BY 1, 2),
       |c2 AS (SELECT rf, v, w,
       |              sum(w) OVER (PARTITION BY rf ORDER BY v) AS cum,
       |              sum(w) OVER (PARTITION BY rf) AS tot
       |       FROM r2),
       |k2 AS (SELECT rf, v, cum,
       |              cum - coalesce(lag(cum)
       |                OVER (PARTITION BY rf ORDER BY v), 0) AS wt
       |       FROM c2
       |       WHERE (cum // ((tot + 31) // 32)) > ((cum - w) // ((tot + 31) // 32))
       |          OR cum = tot)""".stripMargin

  val all: Seq[QueryDef] = Seq(

    QueryDef("q445_qsketch_registers", (s, d) =>
      // the merged per-returnflag quantile summary itself — full multiset
      // hash of every kept (value, weight) register after two compaction
      // levels, the strongest possible oracle surface for the compactor
      // (the rank-cut query q446 only touches the registers its cuts
      // land on). ~33 registers per flag; cumulative weights preserve
      // exact level-1 ranks (the telescoping invariant the spec pins).
      mergedPriceSummary(s, d),
      Some(
        s"""$summaryCtes
           |SELECT rf AS l_returnflag, CAST(v AS BIGINT) AS qs_value,
           |       CAST(wt AS BIGINT) AS qs_weight
           |FROM k2""".stripMargin)),

    QueryDef("q446_qsketch_cuts", (s, d) =>
      // per-mille rank cuts from the merged summary — the monitoring
      // readout (p25/p50/p75/p99 price per return flag) a 100 TB fleet
      // reads from stored registers without ever rescanning raw data.
      // Each answer is an exact data value at a rank within s1+s2 of the
      // requested rank (one-sided); at sf0.01 the observed cuts sit
      // 1.0-1.6% of ranks above exact percentile_disc (value-space
      // 0.9-6.1% on the spread price axis) — value-inspected.
      QuantileSketch.qsQuantile(mergedPriceSummary(s, d),
        Seq("l_returnflag"), Seq(250, 500, 750, 990)),
      Some(
        s"""$summaryCtes,
           |q AS (SELECT rf, v, wt,
           |             sum(wt) OVER (PARTITION BY rf ORDER BY v) AS cum,
           |             sum(wt) OVER (PARTITION BY rf) AS tot
           |      FROM k2)
           |SELECT rf AS l_returnflag, CAST(qm AS INTEGER) AS q_mille,
           |       CAST(v AS BIGINT) AS value
           |FROM q, LATERAL (SELECT unnest([250, 500, 750, 990]) AS qm) x
           |WHERE cum * 1000 >= qm * tot
           |  AND (cum - wt) * 1000 < qm * tot""".stripMargin)),

    QueryDef("q447_stream_qsketch", (s, d) => {
      // streaming mergeable quantile registers: the per-hour (value,
      // count) rollup is maintained BY THE STREAM (windowed associative
      // aggregate, state = per-window distinct cents), then the batch
      // compactor bounds each hour's summary at k=16 over the
      // materialized registers — maintain counts in the stream, compact
      // at read, the q313 drift-register division of labor. Oracle
      // replays the hourly rollup + one compression level from batch SQL
      // (tumbling 1h windows align to date_trunc hours).
      import graft.streaming.EventsStream
      val regs = EventsStream.hourlyValueQuantileRegisters(
        EventsStream.readEvents(s, d))
      val stored = EventsStream.runToBatch(s, regs, "q447_regs")
      QuantileSketch.qsCompress(stored, Seq("hour_start"), k = 16)
    }, Some(
      """WITH v AS (
        |  SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
        |           AS hour_start,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS qv
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT hour_start, qv, CAST(count(*) AS BIGINT) AS w
        |      FROM v GROUP BY 1, 2),
        |c AS (SELECT hour_start, qv, w,
        |             sum(w) OVER (PARTITION BY hour_start ORDER BY qv) AS cum,
        |             sum(w) OVER (PARTITION BY hour_start) AS tot
        |      FROM r),
        |k AS (SELECT hour_start, qv, cum,
        |             cum - coalesce(lag(cum)
        |               OVER (PARTITION BY hour_start ORDER BY qv), 0) AS wt
        |      FROM c
        |      WHERE (cum // ((tot + 15) // 16)) > ((cum - w) // ((tot + 15) // 16))
        |         OR cum = tot)
        |SELECT hour_start, CAST(qv AS BIGINT) AS qs_value,
        |       CAST(wt AS BIGINT) AS qs_weight
        |FROM k""".stripMargin)),

    QueryDef("q448_incremental_drift", (s, d) => {
      // the stored-baseline nightly drift monitor (r11 verdict #3): the
      // batch drift family (q308/q330/q429) rescans BOTH windows every
      // run; a training-data platform freezes a baseline once and scores
      // each night's slice against the STORED rollup. Two-run Registry
      // lifecycle (the q52 pattern): run 1 CTAS-materializes the
      // baseline's exact (value, weight) register rollup (days 1-20) and
      // scores day 25; run 2's baseline branch is a provably-empty
      // incremental merge (filter(false) folds to an empty LocalRelation
      // — baseline history is NEVER rescanned) while the scores model
      // merges day 28's row, whose build touches only that day's
      // partition slice plus the stored registers
      // (Inference.ksFromRegisters — cost independent of baseline ROW
      // count). Day 25 is the honest null (iid synthetic days: observed
      // d_ppm 58048 against the ~75000 two-sample noise bound at
      // n=345 vs 6682); day 28 carries a PLANTED +2000-cent shift the
      // monitor must flag (observed 329841 ppm — 5.7x the null) — both
      // branches value-inspected. ScaleProbe carries the
      // run-2-flat-at-4x-baseline reading; RegistrySpec pins the
      // no-rescan lifecycle.
      import graft.engine.{Incremental, IncrementalMat, Model, Registry}
      import graft.pipeline.Inference
      val wh = Scratch.warehouse("q448", d, s,
        Seq("drift_baseline", "drift_scores"))
      val reg = new Registry(s, wh)
      val ev = events(s, d)
        .filter(col("value").isNotNull)
        .select(col("ts").cast("date").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      reg.source("events_src", ev)
      reg.register(Model("drift_baseline", Seq("events_src"),
        IncrementalMat(Incremental.Merge, Seq("qs_value")),
        ctx => {
          val src = ctx.ref("events_src")
          val window =
            if (ctx.isIncremental) src.filter(lit(false)) // frozen baseline
            else src.filter(col("day") < lit("2024-01-21").cast("date"))
          QuantileSketch.qsRegisters(window, Nil, col("cents"))
        }))
      reg.register(Model("drift_scores", Seq("events_src", "drift_baseline"),
        IncrementalMat(Incremental.Merge, Seq("score_day")),
        ctx => {
          val src = ctx.ref("events_src")
          val (dayStr, shift) =
            if (ctx.isIncremental) ("2024-01-28", 2000L) else ("2024-01-25", 0L)
          val cur = QuantileSketch.qsRegisters(
            src.filter(col("day") === lit(dayStr).cast("date"))
              .withColumn("cents", col("cents") + lit(shift)),
            Nil, col("cents"))
          Inference.ksFromRegisters(ctx.ref("drift_baseline"), cur)
            .withColumn("score_day", lit(dayStr).cast("date"))
        }))
      reg.run()
      reg.run()
      wh.read("drift_scores")
    }, Some(
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |base AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS wa
        |         FROM e WHERE day < DATE '2024-01-21' GROUP BY 1),
        |cur1 AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS wb
        |         FROM e WHERE day = DATE '2024-01-25' GROUP BY 1),
        |cur2 AS (SELECT c + 2000 AS v, CAST(count(*) AS BIGINT) AS wb
        |         FROM e WHERE day = DATE '2024-01-28' GROUP BY 1),
        |u1 AS (SELECT coalesce(b.v, c.v) AS v, coalesce(wa, 0) AS ca,
        |              coalesce(wb, 0) AS cb
        |       FROM base b FULL OUTER JOIN cur1 c ON b.v = c.v),
        |s1 AS (SELECT sum(ca) OVER (ORDER BY v) AS cum_a,
        |              sum(cb) OVER (ORDER BY v) AS cum_b,
        |              sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
        |       FROM u1),
        |d1 AS (SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |              CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
        |                           - CAST(cum_b AS HUGEINT) * n_a)) AS BIGINT)
        |                AS d_num
        |       FROM s1 GROUP BY 1, 2),
        |u2 AS (SELECT coalesce(b.v, c.v) AS v, coalesce(wa, 0) AS ca,
        |              coalesce(wb, 0) AS cb
        |       FROM base b FULL OUTER JOIN cur2 c ON b.v = c.v),
        |s2 AS (SELECT sum(ca) OVER (ORDER BY v) AS cum_a,
        |              sum(cb) OVER (ORDER BY v) AS cum_b,
        |              sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
        |       FROM u2),
        |d2 AS (SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |              CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
        |                           - CAST(cum_b AS HUGEINT) * n_a)) AS BIGINT)
        |                AS d_num
        |       FROM s2 GROUP BY 1, 2)
        |SELECT DATE '2024-01-25' AS score_day, n_a, n_b, d_num,
        |       CAST((CAST(d_num AS HUGEINT) * 1000000)
        |            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS d_ppm
        |FROM d1
        |UNION ALL
        |SELECT DATE '2024-01-28', n_a, n_b, d_num,
        |       CAST((CAST(d_num AS HUGEINT) * 1000000)
        |            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS d_ppm
        |FROM d2""".stripMargin)),

    QueryDef("q449_register_scorers", (s, d) => {
      // the full stored-baseline scorer family over ONE register
      // relation: W1 (metric-aware, micro-cents) on the cents registers
      // and TVD (categorical, full mass for vanished/new values) on
      // dollar-bucket registers, baseline window vs the rest of the
      // month — the nightly monitor's three laws (KS lives in q448)
      // all reading registers, never raw history. Honest-null readout
      // (iid synthetic halves, value-inspected): W1 = 109971024
      // micro-cents ~ $1.10 of transport on a ~$490 spread; TVD 10.5%
      // at 293 dollar buckets — the multinomial |p-q| noise floor at
      // n_b ~ 3.3k (E[TVD] ~ sqrt(K/n)), the baseline a paging
      // threshold must clear at THIS bucket grain.
      import graft.pipeline.Inference
      val ev = events(s, d)
        .filter(col("value").isNotNull)
        .select(col("ts").cast("date").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val split = lit("2024-01-21").cast("date")
      def regs(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
          v: org.apache.spark.sql.Column) =
        QuantileSketch.qsRegisters(f(ev), Nil, v)
      val w1 = Inference.w1FromRegisters(
        regs(_.filter(col("day") < split), col("cents")),
        regs(_.filter(col("day") >= split), col("cents")))
      // the dollar-bucket key divides: Spark `div` truncates toward zero,
      // DuckDB `//` floors — identical only for non-negative operands, so
      // the precondition is ENFORCED, not assumed (ADVICE r12; the
      // raise_error discipline — a negative amount aborts loudly instead
      // of silently bucketing one off from the oracle)
      val nonNegCents = when(col("cents") < 0L, raise_error(concat(
        lit("q449 dollar-bucket key requires non-negative cents, got "),
        col("cents").cast("string")))).otherwise(col("cents"))
      val tvd = Inference.tvdFromRegisters(
        regs(_.filter(col("day") < split),
          call_function("div", nonNegCents, lit(100L))),
        regs(_.filter(col("day") >= split),
          call_function("div", nonNegCents, lit(100L))))
        .select(col("n_cats"), col("tv_ppm"))
      w1.crossJoin(tvd)
    }, Some(
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |a AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS w FROM e
        |      WHERE day < DATE '2024-01-21' GROUP BY 1),
        |b AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS w FROM e
        |      WHERE day >= DATE '2024-01-21' GROUP BY 1),
        |u AS (SELECT coalesce(a.v, b.v) AS v, coalesce(a.w, 0) AS ca,
        |             coalesce(b.w, 0) AS cb
        |      FROM a FULL OUTER JOIN b ON a.v = b.v),
        |s AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cum_a,
        |             sum(cb) OVER (ORDER BY v) AS cum_b,
        |             lead(v) OVER (ORDER BY v) AS nv,
        |             sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
        |      FROM u),
        |w1 AS (SELECT CAST(max(n_a) AS BIGINT) AS n_a,
        |              CAST(max(n_b) AS BIGINT) AS n_b,
        |              CAST((coalesce(sum(abs(CAST(cum_a AS HUGEINT) * n_b
        |                                     - CAST(cum_b AS HUGEINT) * n_a)
        |                                 * (nv - v)), 0) * 1000000)
        |                   // (CAST(max(n_a) AS HUGEINT) * max(n_b))
        |                   AS BIGINT) AS w1_micro
        |       FROM s WHERE nv IS NOT NULL),
        |ad AS (SELECT c // 100 AS v, CAST(count(*) AS BIGINT) AS w FROM e
        |       WHERE day < DATE '2024-01-21' GROUP BY 1),
        |bd AS (SELECT c // 100 AS v, CAST(count(*) AS BIGINT) AS w FROM e
        |       WHERE day >= DATE '2024-01-21' GROUP BY 1),
        |ud AS (SELECT coalesce(ad.v, bd.v) AS v, coalesce(ad.w, 0) AS ca,
        |              coalesce(bd.w, 0) AS cb
        |       FROM ad FULL OUTER JOIN bd ON ad.v = bd.v),
        |tv AS (SELECT CAST(count(*) AS BIGINT) AS n_cats,
        |              CAST((sum(abs(CAST(ca AS HUGEINT) * (SELECT sum(cb) FROM ud)
        |                            - CAST(cb AS HUGEINT) * (SELECT sum(ca) FROM ud)))
        |                    * 1000000)
        |                   // (2 * CAST((SELECT sum(ca) FROM ud) AS HUGEINT)
        |                      * (SELECT sum(cb) FROM ud))
        |                   AS BIGINT) AS tv_ppm
        |       FROM ud)
        |SELECT w1.n_a, w1.n_b, w1.w1_micro, tv.n_cats, tv.tv_ppm
        |FROM w1, tv""".stripMargin)),

    QueryDef("q450_compressed_baseline", (s, d) => {
      // the HIGH-CARDINALITY stored-baseline path: q448 freezes the
      // exact value rollup (fine while the value domain is bounded);
      // at 100 TB a raw-metric baseline stores the COMPRESSED summary
      // instead — k+1 rows of state, period — and the nightly KS reads
      // it with a declared one-sided rank distortion <= s = ceil(W/k)
      // on the baseline side (d_ppm error <= s/W * 1e6 ~ 3907 ppm at
      // k=256). Both scores side by side: the compressed readout must
      // sit within the bound of the exact one (observed at sf0.01:
      // 58048 exact vs 60388 compressed — 2340 ppm apart, inside the
      // 3907 envelope; value-inspected).
      import graft.pipeline.Inference
      val ev = events(s, d)
        .filter(col("value").isNotNull)
        .select(col("ts").cast("date").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val base = QuantileSketch.qsRegisters(
        ev.filter(col("day") < lit("2024-01-21").cast("date")),
        Nil, col("cents"))
        .pinLazy() // feeds the exact score AND the compressor
      val night = QuantileSketch.qsRegisters(
        ev.filter(col("day") === lit("2024-01-25").cast("date")),
        Nil, col("cents"))
        .pinLazy() // feeds both scores
      val exact = Inference.ksFromRegisters(base, night)
        .select(col("n_a"), col("n_b"), col("d_ppm").as("d_ppm_exact"))
      val comp = Inference.ksFromRegisters(
        QuantileSketch.qsCompress(base, Nil, k = 256), night)
        .select(col("d_ppm").as("d_ppm_compressed"))
      exact.crossJoin(comp)
    }, Some(
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |base AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS w
        |         FROM e WHERE day < DATE '2024-01-21' GROUP BY 1),
        |night AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS w
        |          FROM e WHERE day = DATE '2024-01-25' GROUP BY 1),
        |cb AS (SELECT v, w,
        |              sum(w) OVER (ORDER BY v) AS cum,
        |              sum(w) OVER () AS tot
        |       FROM base),
        |kb AS (SELECT v, cum,
        |              cum - coalesce(lag(cum) OVER (ORDER BY v), 0) AS wt
        |       FROM cb
        |       WHERE (cum // ((tot + 255) // 256)) > ((cum - w) // ((tot + 255) // 256))
        |          OR cum = tot),
        |u1 AS (SELECT coalesce(b.v, n.v) AS v, coalesce(b.w, 0) AS ca,
        |              coalesce(n.w, 0) AS cb
        |       FROM base b FULL OUTER JOIN night n ON b.v = n.v),
        |s1 AS (SELECT sum(ca) OVER (ORDER BY v) AS cum_a,
        |              sum(cb) OVER (ORDER BY v) AS cum_b,
        |              sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
        |       FROM u1),
        |d1 AS (SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |              CAST((CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
        |                                - CAST(cum_b AS HUGEINT) * n_a)) AS HUGEINT)
        |                    * 1000000)
        |                   // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS d_ppm_exact
        |       FROM s1 GROUP BY n_a, n_b),
        |u2 AS (SELECT coalesce(k.v, n.v) AS v, coalesce(k.wt, 0) AS ca,
        |              coalesce(n.w, 0) AS cb
        |       FROM kb k FULL OUTER JOIN night n ON k.v = n.v),
        |s2 AS (SELECT sum(ca) OVER (ORDER BY v) AS cum_a,
        |              sum(cb) OVER (ORDER BY v) AS cum_b,
        |              sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
        |       FROM u2),
        |d2 AS (SELECT CAST((CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
        |                                - CAST(cum_b AS HUGEINT) * n_a)) AS HUGEINT)
        |                    * 1000000)
        |                   // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
        |                AS d_ppm_compressed
        |       FROM s2 GROUP BY n_a, n_b)
        |SELECT d1.n_a, d1.n_b, d1.d_ppm_exact, d2.d_ppm_compressed
        |FROM d1, d2""".stripMargin)),

    QueryDef("q451_qsketch_interp", (s, d) =>
      // percentile_cont from the register relation: exact interpolated
      // micro-cent price quantiles per return flag read off the
      // (value, weight) rollup — the weighted twin of q434's
      // interpolatedQuantiles (chain mirrored verbatim), completing the
      // register-reader family (disc cuts q446, KS/W1/TVD scorers
      // q448-q450). On stored registers a monitoring fleet gets
      // percentile_cont without ever re-sorting raw data.
      QuantileSketch.qsQuantileInterp(
        QuantileSketch.qsRegisters(table(s, d, "lineitem"),
          Seq("l_returnflag"), Features.cents(col("l_extendedprice"))),
        Seq("l_returnflag"), Seq(250, 500, 750, 990)),
      Some(
        s"""WITH c AS (
           |  SELECT l_returnflag AS g, ${centsSql("l_extendedprice")} AS v,
           |         CAST(count(*) AS BIGINT) AS cnt
           |  FROM lineitem WHERE l_extendedprice IS NOT NULL
           |  GROUP BY 1, 2),
           |w AS (
           |  SELECT g, v, cnt,
           |         CAST(sum(cnt) OVER (PARTITION BY g ORDER BY v ASC)
           |              AS BIGINT) AS cum,
           |         CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS tot
           |  FROM c),
           |p AS (
           |  SELECT g, v, cnt, cum, tot, q.q AS q_mille,
           |         (q.q * (tot - 1)) // 1000 AS ip,
           |         (q.q * (tot - 1)) % 1000 AS rem
           |  FROM w, (VALUES (250), (500), (750), (990)) q(q)),
           |p2 AS (SELECT *, ip + CASE WHEN rem > 0 THEN 1 ELSE 0 END AS ip2
           |       FROM p)
           |SELECT g AS l_returnflag, CAST(q_mille AS INTEGER) AS q_mille,
           |       CAST(max(tot) AS BIGINT) AS n_values,
           |       CAST(max(CASE WHEN cum - cnt <= ip AND ip < cum THEN v END)
           |              * 1000000
           |            + max(rem)
           |              * (max(CASE WHEN cum - cnt <= ip2 AND ip2 < cum THEN v END)
           |                 - max(CASE WHEN cum - cnt <= ip AND ip < cum THEN v END))
           |              * 1000 AS BIGINT) AS value_micro
           |FROM p2
           |WHERE (cum - cnt <= ip AND ip < cum)
           |   OR (cum - cnt <= ip2 AND ip2 < cum)
           |GROUP BY 1, 2""".stripMargin))
  )
}
