package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources.table
import graft.engine.Pin.PinOps

/** Round-15 battery (VERDICT r14 next-round list): the cost model folded
  * into the MATERIALIZER (the declared ctx.join surface resolving plans
  * from hook-maintained statistics sidecars, with the LEO feedback loop
  * closing through the append sink), composite-key statistics (exact-form
  * composite NDV vs the independence product), MCV-aware equality pricing
  * in the layout advisor, and Z-order pair advice. Exact integer
  * arithmetic and verbatim oracle replay throughout (the Round12-14
  * discipline).
  */
object Round15Queries extends QuerySet {

  /** The q494-form KMV-NDV oracle CTE: bottom-256 of md5 over `src`'s
    * single VARCHAR-rendered column, then the exact-integer
    * `(k-1)*16^15 div kth` estimator — shared by every round-15 oracle
    * that replays a stored profile.
    */
  private def ndvCte(name: String, srcSql: String, as: String): String =
    s"""$name AS (SELECT CASE WHEN n_regs < 256 THEN n_regs
       |              ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
       |                   // CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT)
       |                   AS BIGINT) END AS $as
       |       FROM (SELECT CAST(count(*) AS BIGINT) AS n_regs, max(key) AS kth
       |             FROM (SELECT key, row_number() OVER (ORDER BY key) AS rn
       |                   FROM ($srcSql)) t
       |             WHERE rn <= 256))""".stripMargin

  val all: Seq[QueryDef] = Seq(

    QueryDef("q502_declared_join_feedback", (s, d) => {
      // the COST MODEL inside the MATERIALIZER, loop closed through
      // storage (VERDICT r14 #1 + #6): the cust_orders model DECLARES
      // its join — `ctx.join("ordf", "cust", Seq("ck"), recordFeedback
      // = true)` — and the registry (a) resolves the physical plan from
      // the two analyze-hook-maintained __stats_* sidecars (run 1's
      // 750-key dim fits the 1000-row budget -> broadcast_right, pinned
      // as BroadcastHashJoin in RegistrySpec; run 2's merged 1500-key
      // dim exceeds it -> shuffle), and (b) records the LEO observation
      // (family, est, est_adjusted, actual) through the I1 append sink
      // AFTER the DML commits, where actual is the materialized
      // relation's cardinality. Run 2's estimate PROVABLY reads run 1's
      // stored feedback: fb_est_adjusted(run2) = est2 * actual1 div
      // est1 — the mass-weighted ratio from storage, digit-replayed by
      // the oracle (System-R estimates from KMV-profile NDVs, exact
      // counts, one truncating division). Observed at sf0.01
      // (value-inspected): run1 est 7048 vs actual 7440 (System-R reads
      // 5.3% UNDER — the KMV ndv_a over orders' ~1500 true buyer keys
      // draws slightly high at k=256); run2 raw est 14097, ADJUSTED
      // 14881 = 14097 * 7440 div 7048 vs actual 15000 — the stored
      // run-1 ratio moves the estimate from -6.0% to -0.8%. Plan-time
      // cost: two register-grain sidecar lookups + one 1-row feedback
      // aggregate — the metadata-bounded contract.
      import graft.engine.{Incremental, IncrementalMat, Model, Registry,
        TableMat, TableStats, ViewMat}
      import org.apache.spark.sql.expressions.Window
      val wh = Scratch.warehouse("q502", d, s, Seq(
        "ordf", "ordf__stats_counts", "ordf__stats_regs",
        "cust", "cust__stats_counts", "cust__stats_regs", "join_fb"))
      val reg = new Registry(s, wh).enableJoinFeedback("join_fb")
      reg.source("ord_src", table(s, d, "orders").select(
        col("o_custkey").cast("long").as("ck")))
      reg.source("cust_src", table(s, d, "customer").select(
        col("c_custkey").cast("long").as("ck")))
      reg.register(Model("ordf", Seq("ord_src"), TableMat(),
        ctx => ctx.ref("ord_src"),
        postHooks = Seq(TableStats.analyzeHook(Seq("ck")))))
      reg.register(Model("cust", Seq("cust_src"),
        IncrementalMat(Incremental.Merge, Seq("ck")),
        ctx => if (ctx.isIncremental) ctx.ref("cust_src")
          else ctx.ref("cust_src").filter(col("ck") % 2L === 0L),
        postHooks = Seq(TableStats.analyzeHook(Seq("ck")))))
      reg.register(Model("cust_orders", Seq("ordf", "cust"), ViewMat,
        ctx => ctx.join("ordf", "cust", Seq("ck"),
          broadcastMaxRows = 1000L, recordFeedback = true)))
      reg.run() // dim = even custkeys: broadcast advised, ratio recorded
      reg.run() // merged dim: shuffle advised, estimate reads run 1's row
      wh.read("join_fb").withColumn("run",
        row_number().over(Window.orderBy(col("fb_actual").asc))
          .cast("long"))
    }, Some(
      """WITH o AS (SELECT CAST(o_custkey AS BIGINT) AS ck FROM orders),
        |c0 AS (SELECT CAST(c_custkey AS BIGINT) AS ck FROM customer),
        |b1 AS (SELECT ck FROM c0 WHERE ck % 2 = 0),
        |na AS (SELECT CAST(count(ck) AS BIGINT) AS n_a FROM o),
        |""".stripMargin +
      ndvCte("va", "SELECT md5(CAST(ck AS VARCHAR)) AS key FROM (SELECT DISTINCT ck FROM o)", "ndv_a") + ",\n" +
      ndvCte("v1", "SELECT md5(CAST(ck AS VARCHAR)) AS key FROM b1", "ndv_b") + ",\n" +
      ndvCte("v2", "SELECT md5(CAST(ck AS VARCHAR)) AS key FROM c0", "ndv_b") + ",\n" +
      """n1 AS (SELECT CAST(count(ck) AS BIGINT) AS n_b FROM b1),
        |n2 AS (SELECT CAST(count(ck) AS BIGINT) AS n_b FROM c0),
        |x1 AS (SELECT CAST(count(*) AS BIGINT) AS actual
        |       FROM o JOIN b1 USING (ck)),
        |x2 AS (SELECT CAST(count(*) AS BIGINT) AS actual
        |       FROM o JOIN c0 USING (ck)),
        |e1 AS (SELECT CAST(CAST(na.n_a AS HUGEINT) * n1.n_b
        |                   // greatest(va.ndv_a, v1.ndv_b, 1) AS BIGINT)
        |                AS est FROM na, va, n1, v1),
        |e2 AS (SELECT CAST(CAST(na.n_a AS HUGEINT) * n2.n_b
        |                   // greatest(va.ndv_a, v2.ndv_b, 1) AS BIGINT)
        |                AS est FROM na, va, n2, v2)
        |SELECT 'ordf|cust|ck' AS fb_family, e1.est AS fb_est,
        |       e1.est AS fb_est_adjusted, x1.actual AS fb_actual,
        |       CAST(1 AS BIGINT) AS run
        |FROM e1, x1
        |UNION ALL
        |SELECT 'ordf|cust|ck', e2.est,
        |       CAST(CAST(e2.est AS HUGEINT) * x1.actual // e1.est
        |            AS BIGINT),
        |       x2.actual, CAST(2 AS BIGINT)
        |FROM e1, e2, x1, x2""".stripMargin)),

    QueryDef("q503_composite_key_stats", (s, d) => {
      // COMPOSITE-KEY statistics (VERDICT r14 #2): System-R on a
      // multi-column join key multiplies single-column NDVs under
      // independence — exactly what correlated key parts break, and
      // q497's LEO loop already measured failing on the derived
      // (cents, band) pair (band = cents div 2e6 is functionally
      // dependent: TRUE composite NDV == NDV(cents), while the
      // independence product reads NDV(cents) * NDV(band) — ~6x over,
      // so the join estimate lands ~6x UNDER). The fix is zero new
      // machinery: columnRegisters over the declared column GROUP
      // 'cents|band' (values profile under the surrogate-key concat-ws
      // rendering, tuples with any NULL part carry no key statistics),
      // giving exact-form composite NDV from the SAME one-scan pass.
      // Contrast on the self-equi-join of lineitem on BOTH columns:
      // est_product = n^2 div (ndv_c * ndv_b) vs est_composite = n^2
      // div ndv_comp vs the exact join cardinality (sum of per-tuple
      // count^2). Observed at sf0.01 (value-inspected): n=60000,
      // ndv_cents 58657 (KMV), ndv_band 6 (exact — under k), product
      // 351942 -> est_product 10228, 5.9x UNDER the exact 60362;
      // composite ndv 55993 (~= ndv_cents: the functional dependency
      // MEASURED, not assumed) -> est_composite 64293, within 6.5% of
      // exact (KMV one-sigma at k=256 is ~6%). All register-grain
      // reads; KMV digits replay in the oracle.
      import graft.engine.TableStats
      val li = table(s, d, "lineitem")
        .select(floor(col("l_extendedprice") * 100 + 0.5)
          .cast("long").as("cents"))
        .withColumn("band", call_function("div", col("cents"),
          lit(2000000L)))
      val counts = TableStats.columnCounts(li,
        Seq("cents", "band", "cents|band")).pinLazy()
      val ndv = TableStats.ndvEstimate(TableStats.columnRegisters(li,
        Seq("cents", "band", "cents|band"), 256), 256)
        .pinLazy()
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      def nd(c: String, as: String) =
        ndv.filter(col("ts_col") === c).select(col("ndv").as(as))
      val exact = li.groupBy(col("cents"), col("band"))
        .agg(count(lit(1)).cast("long").as("__c"))
        .agg(sum(dec(col("__c")) * dec(col("__c"))).cast("long")
          .as("exact_join_rows"))
      counts.filter(col("ts_col") === "cents|band")
        .select(col("n_notnull").as("n_rows"))
        .crossJoin(nd("cents", "ndv_cents"))
        .crossJoin(nd("band", "ndv_band"))
        .crossJoin(nd("cents|band", "ndv_composite"))
        .withColumn("ndv_product", col("ndv_cents") * col("ndv_band"))
        .withColumn("est_product", call_function("div",
          dec(col("n_rows")) * dec(col("n_rows")),
          greatest(dec(col("ndv_product")),
            lit(1L).cast("decimal(38,0)"))).cast("long"))
        .withColumn("est_composite", call_function("div",
          dec(col("n_rows")) * dec(col("n_rows")),
          greatest(dec(col("ndv_composite")),
            lit(1L).cast("decimal(38,0)"))).cast("long"))
        .crossJoin(exact)
    }, Some(
      """WITH e AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |                    AS cents FROM lineitem),
        |e2 AS (SELECT cents, cents // 2000000 AS band FROM e),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM e2),
        |""".stripMargin +
      ndvCte("vc", "SELECT md5(CAST(cents AS VARCHAR)) AS key FROM (SELECT DISTINCT cents FROM e2)", "ndv_cents") + ",\n" +
      ndvCte("vb", "SELECT md5(CAST(band AS VARCHAR)) AS key FROM (SELECT DISTINCT band FROM e2)", "ndv_band") + ",\n" +
      ndvCte("vk", "SELECT md5(CAST(cents AS VARCHAR) || '|' || CAST(band AS VARCHAR)) AS key FROM (SELECT DISTINCT cents, band FROM e2)", "ndv_composite") + ",\n" +
      """x AS (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT)
        |                AS exact_join_rows
        |       FROM (SELECT count(*) AS c FROM e2 GROUP BY cents, band))
        |SELECT n.n_rows, vc.ndv_cents, vb.ndv_band,
        |       vc.ndv_cents * vb.ndv_band AS ndv_product,
        |       vk.ndv_composite,
        |       CAST(CAST(n.n_rows AS HUGEINT) * n.n_rows
        |            // greatest(vc.ndv_cents * vb.ndv_band, 1) AS BIGINT)
        |         AS est_product,
        |       CAST(CAST(n.n_rows AS HUGEINT) * n.n_rows
        |            // greatest(vk.ndv_composite, 1) AS BIGINT)
        |         AS est_composite,
        |       x.exact_join_rows
        |FROM n, vc, vb, vk, x""".stripMargin)),

    QueryDef("q504_eq_layout_advisor", (s, d) => {
      // MCV-aware EQUALITY pricing in the layout advisor (VERDICT r14
      // #3): clusterAdvisor priced only range predicates from quantile
      // summaries, so an equality-heavy workload — the q459 bloom shape
      // — priced every candidate as a full scan and the advice
      // degenerated to the tiebreak. layoutAdvisor prices 'eq' workload
      // rows from the stored MCV profile instead: a value in the top-k
      // reads its EXACT count, a tail value the PostgreSQL var_eq_const
      // average (n - mcv_mass) div (ndv - mcv_n), both over ONE
      // register-grain read. Workload: two 4-weight supplier-key
      // lookups (skey 7 and 42 — each ~1% of lineitem) + one 1-weight
      // cents range [$10k, $50k] (sel ~38%): the skey layout prices
      // ~121k ppm of the workload scan mass, the cents layout ~930k —
      // skey chosen, exactly the bloom-served column the equality reads
      // want (TableStatsSpec closes the physical loop: the chosen
      // column's bloom sidecar prunes the eq read's files, the rejected
      // layout reads all). Every number replays: the MCV cut
      // (count desc, value asc over the string rendering), the tail
      // division, the compressed-summary range mass, the weighted pick.
      import graft.engine.TableStats
      val li = table(s, d, "lineitem").select(
        col("l_suppkey").cast("long").as("skey"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      // MCV is DECLARED on the eq-serving key only: a top-64 list over
      // the near-unique cents column would be meaningless AND costs a
      // value-grain window over ~n rows at scale — the advisor prices
      // missing-MCV candidates' eq rows at 1e6 regardless (the
      // mismatch/unknown path), so the cents profile stays summaries-only
      val sums = TableStats.columnSummaries(li, Seq("skey", "cents"), 256)
      val mcvs = TableStats.mcvProfiles(li, Seq("skey"), 64)
      val counts = TableStats.columnCounts(li, Seq("skey", "cents"))
      val ndv = TableStats.ndvEstimate(
        TableStats.columnRegisters(li, Seq("skey", "cents"), 256), 256)
      import s.implicits._
      val workload = Seq(
        ("skey", "eq", Option.empty[Long], Option.empty[Long],
          Some("7"), 4L),
        ("skey", "eq", Option.empty[Long], Option.empty[Long],
          Some("42"), 4L),
        ("cents", "range", Some(1000000L), Some(5000000L),
          Option.empty[String], 1L))
        .toDF("wl_col", "wl_kind", "wl_lo", "wl_hi", "wl_value",
          "wl_weight")
      TableStats.layoutAdvisor(sums, mcvs, counts, ndv, workload,
        Seq("cents", "skey"))
    }, Some(
      """WITH e AS (SELECT CAST(l_suppkey AS BIGINT) AS skey,
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
        |selr AS (SELECT CAST(CAST(sum(CASE WHEN v >= 1000000
        |                                    AND v <= 5000000
        |                               THEN w ELSE 0 END) AS HUGEINT)
        |                     * 1000000
        |                // greatest(CAST(sum(w) AS HUGEINT), 1) AS BIGINT)
        |                  AS frac FROM kc),
        |ms AS (SELECT CAST(skey AS VARCHAR) AS mcv_value,
        |              CAST(count(*) AS BIGINT) AS mcv_count
        |       FROM e GROUP BY 1),
        |mk AS (SELECT mcv_value, mcv_count
        |       FROM (SELECT mcv_value, mcv_count,
        |                    row_number() OVER (ORDER BY mcv_count DESC,
        |                                       mcv_value ASC) AS rn
        |             FROM ms) t WHERE rn <= 64),
        |magg AS (SELECT CAST(coalesce(sum(mcv_count), 0) AS BIGINT)
        |                  AS mcv_mass,
        |                CAST(count(*) AS BIGINT) AS mcv_n FROM mk),
        |nn AS (SELECT CAST(count(skey) AS BIGINT) AS n FROM e),
        |""".stripMargin +
      ndvCte("vs", "SELECT md5(CAST(skey AS VARCHAR)) AS key FROM (SELECT DISTINCT skey FROM e)", "ndv") + ",\n" +
      """eqf AS (SELECT t.val,
        |               CAST(CAST(CASE WHEN mk.mcv_count IS NOT NULL
        |                              THEN mk.mcv_count
        |                              ELSE (nn.n - magg.mcv_mass)
        |                                   // greatest(vs.ndv - magg.mcv_n,
        |                                              1)
        |                         END AS HUGEINT) * 1000000
        |                    // greatest(nn.n, 1) AS BIGINT) AS frac
        |        FROM (VALUES ('7'), ('42')) t(val)
        |        LEFT JOIN mk ON mk.mcv_value = t.val, nn, magg, vs),
        |cand AS (SELECT 'cents' AS layout_col,
        |                CAST((4 * 1000000 + 4 * 1000000 + 1 * selr.frac)
        |                     // 9 AS BIGINT) AS est_scan_ppm
        |         FROM selr
        |         UNION ALL
        |         SELECT 'skey',
        |                CAST((4 * f7.frac + 4 * f42.frac + 1 * 1000000)
        |                     // 9 AS BIGINT)
        |         FROM (SELECT frac FROM eqf WHERE val = '7') f7,
        |              (SELECT frac FROM eqf WHERE val = '42') f42)
        |SELECT layout_col, est_scan_ppm,
        |       CAST(CASE WHEN row_number() OVER
        |                        (ORDER BY est_scan_ppm ASC, layout_col ASC)
        |                      = 1
        |                 THEN 1 ELSE 0 END AS BIGINT) AS chosen
        |FROM cand""".stripMargin)),

    QueryDef("q505_zorder_pair_advisor", (s, d) => {
      // Z-order PAIR advice (VERDICT r14 #4): q457 proved a 2-d box
      // read multiplies pruning on a Morton layout; the cluster advisor
      // ranked only single columns. zorderAdvisor prices candidate
      // PAIRS as the product of per-dimension scan fractions from the
      // two stored quantile summaries (frac1 * frac2 div 1e6 — the
      // independence the Morton curve's interleaved bit planes provide
      // by construction), single columns as the matching dimension's
      // fraction alone. Box workload: 3 weight on the q457 box
      // (pkey [1,500] ~25% x skey [1,25] ~25%) + 1 weight on a
      // pkey-only slab ([1,200] ~10%, skey full domain): the pair
      // prices ~72k ppm, pkey alone ~212k, skey alone ~437k — the pair
      // chosen, and ManifestSpec closes the physical loop (the advised
      // pair's Morton layout out-prunes the best single column on the
      // declared box). Oracle replays both compressed summaries, all
      // four per-dimension fractions, the products and the weighted
      // pick.
      import graft.engine.TableStats
      val li = table(s, d, "lineitem").select(
        col("l_partkey").cast("long").as("pkey"),
        col("l_suppkey").cast("long").as("skey"))
      val sums = TableStats.columnSummaries(li, Seq("pkey", "skey"), 256)
      import s.implicits._
      val boxes = Seq(
        ("pkey", 1L, 500L, "skey", 1L, 25L, 3L),
        ("pkey", 1L, 200L, "skey", 0L, 100000L, 1L))
        .toDF("wl_col1", "wl_lo1", "wl_hi1", "wl_col2", "wl_lo2",
          "wl_hi2", "wl_weight")
      TableStats.zorderAdvisor(sums, boxes,
        Seq(Seq("pkey"), Seq("skey"), Seq("pkey", "skey")))
    }, Some(
      """WITH e AS (SELECT CAST(l_partkey AS BIGINT) AS pkey,
        |                  CAST(l_suppkey AS BIGINT) AS skey FROM lineitem),
        |rp AS (SELECT pkey AS v, CAST(count(*) AS BIGINT) AS w FROM e
        |       GROUP BY 1),
        |cp AS (SELECT v, w, sum(w) OVER (ORDER BY v) AS cum,
        |              (SELECT sum(w) FROM rp) AS tot FROM rp),
        |kp AS (SELECT v, cum - coalesce(lag(cum) OVER (ORDER BY v), 0) AS w
        |       FROM (SELECT v, cum FROM cp
        |             WHERE (cum // ((tot + 255) // 256))
        |                     > ((cum - w) // ((tot + 255) // 256))
        |                OR cum = tot) t),
        |rs AS (SELECT skey AS v, CAST(count(*) AS BIGINT) AS w FROM e
        |       GROUP BY 1),
        |cs AS (SELECT v, w, sum(w) OVER (ORDER BY v) AS cum,
        |              (SELECT sum(w) FROM rs) AS tot FROM rs),
        |ks AS (SELECT v, cum - coalesce(lag(cum) OVER (ORDER BY v), 0) AS w
        |       FROM (SELECT v, cum FROM cs
        |             WHERE (cum // ((tot + 255) // 256))
        |                     > ((cum - w) // ((tot + 255) // 256))
        |                OR cum = tot) t),
        |sp1 AS (SELECT CAST(CAST(sum(CASE WHEN v >= 1 AND v <= 500
        |                              THEN w ELSE 0 END) AS HUGEINT)
        |                    * 1000000
        |               // greatest(CAST(sum(w) AS HUGEINT), 1) AS BIGINT)
        |                 AS frac FROM kp),
        |sp2 AS (SELECT CAST(CAST(sum(CASE WHEN v >= 1 AND v <= 200
        |                              THEN w ELSE 0 END) AS HUGEINT)
        |                    * 1000000
        |               // greatest(CAST(sum(w) AS HUGEINT), 1) AS BIGINT)
        |                 AS frac FROM kp),
        |ss1 AS (SELECT CAST(CAST(sum(CASE WHEN v >= 1 AND v <= 25
        |                              THEN w ELSE 0 END) AS HUGEINT)
        |                    * 1000000
        |               // greatest(CAST(sum(w) AS HUGEINT), 1) AS BIGINT)
        |                 AS frac FROM ks),
        |ss2 AS (SELECT CAST(CAST(sum(CASE WHEN v >= 0 AND v <= 100000
        |                              THEN w ELSE 0 END) AS HUGEINT)
        |                    * 1000000
        |               // greatest(CAST(sum(w) AS HUGEINT), 1) AS BIGINT)
        |                 AS frac FROM ks),
        |cand AS (SELECT 'pkey' AS layout,
        |                CAST((3 * sp1.frac + 1 * sp2.frac) // 4 AS BIGINT)
        |                  AS est_scan_ppm
        |         FROM sp1, sp2
        |         UNION ALL
        |         SELECT 'skey',
        |                CAST((3 * ss1.frac
        |                      + 1 * (CAST(1000000 AS HUGEINT) * ss2.frac
        |                             // 1000000)) // 4 AS BIGINT)
        |         FROM ss1, ss2
        |         UNION ALL
        |         SELECT 'pkey|skey',
        |                CAST((3 * (CAST(sp1.frac AS HUGEINT) * ss1.frac
        |                           // 1000000)
        |                      + 1 * (CAST(sp2.frac AS HUGEINT) * ss2.frac
        |                             // 1000000)) // 4 AS BIGINT)
        |         FROM sp1, ss1, sp2, ss2)
        |SELECT layout, est_scan_ppm,
        |       CAST(CASE WHEN row_number() OVER
        |                        (ORDER BY est_scan_ppm ASC, layout ASC)
        |                      = 1
        |                 THEN 1 ELSE 0 END AS BIGINT) AS chosen
        |FROM cand""".stripMargin)),

    QueryDef("q506_composite_declared_join", (s, d) => {
      // the round's two new surfaces COMPOSED: ctx.join on a COMPOSITE
      // key, plan resolved from the composite profiles the analyze
      // hooks maintain under the declared 'okey|ln' column-group spec
      // (q502's machinery x q503's statistics — the resolver's keyName
      // is keys.mkString("|"), so a two-column join reads the tuple's
      // NDV, not an independence product). lineitem's (orderkey,
      // linenumber) is the table's PRIMARY KEY: the returned-lines dim
      // keys on it — and the MEASURED composite profile exposes what
      // TPC-H intuition gets wrong about THIS generator: (okey, ln) is
      // NOT unique here (ndv_a reads 46719 tuples over 60000 rows —
      // rows repeat ~1.28x), so the System-R estimate with the
      // composite NDV reads 25744 vs exact 31237 (-17.6%: KMV draw +
      // within-side uniformity over the repeated tuples), where a PK
      // assumption would have predicted exactly n_b. Observed at
      // sf0.01, value-inspected: dim 20046 rows under the 25000
      // budget -> broadcast_right (RegistrySpec pins the executed
      // BroadcastHashJoin for the composite path). Oracle replays both
      // composite KMV profiles (md5 of the concat-ws rendering), the
      // estimate, the decision and the exact join.
      import graft.engine.{Model, Registry, TableMat, TableStats, ViewMat}
      val wh = Scratch.warehouse("q506", d, s, Seq(
        "li_fact", "li_fact__stats_counts", "li_fact__stats_regs",
        "ret_dim", "ret_dim__stats_counts", "ret_dim__stats_regs"))
      val reg = new Registry(s, wh)
      reg.source("li_src", table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("okey"),
        col("l_linenumber").cast("long").as("ln"),
        col("l_quantity").cast("long").as("qty"),
        col("l_returnflag").as("flag")))
      reg.register(Model("li_fact", Seq("li_src"), TableMat(),
        ctx => ctx.ref("li_src").select(col("okey"), col("ln"), col("qty")),
        postHooks = Seq(TableStats.analyzeHook(Seq("okey|ln")))))
      reg.register(Model("ret_dim", Seq("li_src"), TableMat(),
        ctx => ctx.ref("li_src").filter(col("flag") === "R")
          .select(col("okey"), col("ln")),
        postHooks = Seq(TableStats.analyzeHook(Seq("okey|ln")))))
      reg.register(Model("ret_lines", Seq("li_fact", "ret_dim"), ViewMat,
        ctx => ctx.join("li_fact", "ret_dim", Seq("okey", "ln"),
          broadcastMaxRows = 25000L)))
      reg.run()
      val aProf = TableStats.readProfile(wh, "li_fact", "okey|ln", "a")
      val bProf = TableStats.readProfile(wh, "ret_dim", "okey|ln", "b")
      val exact = reg.relation("ret_lines")
        .agg(count(lit(1)).cast("long").as("exact_join_rows"),
          sum(col("qty")).cast("long").as("ret_qty"))
      TableStats.adviseEquiJoin(aProf, bProf, broadcastMaxRows = 25000L)
        .crossJoin(exact)
    }, Some(
      """WITH e AS (SELECT CAST(l_orderkey AS BIGINT) AS okey,
        |                  CAST(l_linenumber AS BIGINT) AS ln,
        |                  CAST(l_quantity AS BIGINT) AS qty,
        |                  l_returnflag AS flag FROM lineitem),
        |r AS (SELECT okey, ln FROM e WHERE flag = 'R'),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM e),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM r),
        |""".stripMargin +
      ndvCte("va", "SELECT md5(CAST(okey AS VARCHAR) || '|' || CAST(ln AS VARCHAR)) AS key FROM (SELECT DISTINCT okey, ln FROM e)", "ndv_a") + ",\n" +
      ndvCte("vb", "SELECT md5(CAST(okey AS VARCHAR) || '|' || CAST(ln AS VARCHAR)) AS key FROM (SELECT DISTINCT okey, ln FROM r)", "ndv_b") + ",\n" +
      """x AS (SELECT CAST(count(*) AS BIGINT) AS exact_join_rows,
        |             CAST(sum(e.qty) AS BIGINT) AS ret_qty
        |       FROM e JOIN r USING (okey, ln))
        |SELECT na.n_a, va.ndv_a, nb.n_b, vb.ndv_b,
        |       CAST(CAST(na.n_a AS HUGEINT) * nb.n_b
        |            // greatest(va.ndv_a, vb.ndv_b, 1) AS BIGINT)
        |         AS est_join_rows,
        |       CASE WHEN least(na.n_a, nb.n_b) > 25000 THEN 'shuffle'
        |            WHEN na.n_a <= nb.n_b THEN 'broadcast_left'
        |            ELSE 'broadcast_right' END AS join_plan,
        |       x.exact_join_rows, x.ret_qty
        |FROM na, va, nb, vb, x""".stripMargin)),

    QueryDef("q507_declared_star_join", (s, d) => {
      // the join-ORDER face inside the materializer (ctx.starJoin —
      // the q493/q499 Selinger pick DECLARED instead of hand-wired):
      // one fact, N dimension equi-joins; the registry orders dims by
      // ascending System-R single-join estimate from the hook-
      // maintained profiles (most selective first — the greedy that
      // minimizes every left-deep intermediate under containment),
      // broadcasts each dim its stored count proves under the budget,
      // and logs order + estimates to metadataOps (RegistrySpec pins
      // the order line, the executed BroadcastHashJoins and identity
      // with the any-order join). Here the filtered part dim (p_size
      // <= 5, ~10% of parts) estimates 5880 intermediate rows vs the
      // full supplier dim's 60000 -> part joins first. The query's
      // output replays the SAME stored profiles in-plan: both
      // estimates, the planned first dim, and the star join's
      // aggregate (inner equi-joins commute, so the oracle's plain
      // 3-way join is the identity proof — the ordering is visible
      // only in the plan, exactly like q499). Observed at sf0.01,
      // value-inspected: est_part 5880 vs est_supp 60000, first =
      // part_dim, 6184 matched rows (est -4.9%).
      import graft.engine.{Model, Registry, TableMat, TableStats, ViewMat}
      val wh = Scratch.warehouse("q507", d, s, Seq(
        "li", "li__stats_counts", "li__stats_regs",
        "part_dim", "part_dim__stats_counts", "part_dim__stats_regs",
        "supp_dim", "supp_dim__stats_counts", "supp_dim__stats_regs"))
      val reg = new Registry(s, wh)
      reg.source("li_src", table(s, d, "lineitem").select(
        col("l_partkey").cast("long").as("pkey"),
        col("l_suppkey").cast("long").as("skey"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents")))
      reg.source("part_src", table(s, d, "part").select(
        col("p_partkey").cast("long").as("pkey"),
        col("p_size").cast("long").as("psize")))
      reg.source("supp_src", table(s, d, "supplier").select(
        col("s_suppkey").cast("long").as("skey")))
      reg.register(Model("li", Seq("li_src"), TableMat(),
        ctx => ctx.ref("li_src"),
        postHooks = Seq(TableStats.analyzeHook(Seq("pkey", "skey")))))
      reg.register(Model("part_dim", Seq("part_src"), TableMat(),
        ctx => ctx.ref("part_src").filter(col("psize") <= 5L)
          .select(col("pkey")),
        postHooks = Seq(TableStats.analyzeHook(Seq("pkey")))))
      reg.register(Model("supp_dim", Seq("supp_src"), TableMat(),
        ctx => ctx.ref("supp_src"),
        postHooks = Seq(TableStats.analyzeHook(Seq("skey")))))
      reg.register(Model("star", Seq("li", "part_dim", "supp_dim"), ViewMat,
        ctx => ctx.starJoin("li", Seq(("part_dim", Seq("pkey")),
          ("supp_dim", Seq("skey"))), broadcastMaxRows = 5000L)))
      reg.run()
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      def est(dim: String, key: String, as: String) =
        TableStats.readProfile(wh, "li", key, "f")
          .crossJoin(TableStats.readProfile(wh, dim, key, "d"))
          .select(call_function("div", dec(col("n_f")) * dec(col("n_d")),
            greatest(col("ndv_f"), col("ndv_d"), lit(1L))
              .cast("decimal(38,0)")).cast("long").as(as))
      val agg = reg.relation("star").agg(
        count(lit(1)).cast("long").as("n_rows"),
        sum(col("cents")).cast("long").as("sum_cents"))
      est("part_dim", "pkey", "est_part")
        .crossJoin(est("supp_dim", "skey", "est_supp"))
        .withColumn("first_dim",
          when(col("est_part") <= col("est_supp"), lit("part_dim"))
            .otherwise(lit("supp_dim")))
        .crossJoin(agg)
    }, Some(
      """WITH e AS (SELECT CAST(l_partkey AS BIGINT) AS pkey,
        |                  CAST(l_suppkey AS BIGINT) AS skey,
        |                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |                    AS cents FROM lineitem),
        |pd AS (SELECT CAST(p_partkey AS BIGINT) AS pkey FROM part
        |       WHERE CAST(p_size AS BIGINT) <= 5),
        |sd AS (SELECT CAST(s_suppkey AS BIGINT) AS skey FROM supplier),
        |nf AS (SELECT CAST(count(pkey) AS BIGINT) AS n FROM e),
        |np AS (SELECT CAST(count(pkey) AS BIGINT) AS n FROM pd),
        |ns AS (SELECT CAST(count(skey) AS BIGINT) AS n FROM sd),
        |""".stripMargin +
      ndvCte("vfp", "SELECT md5(CAST(pkey AS VARCHAR)) AS key FROM (SELECT DISTINCT pkey FROM e)", "ndv") + ",\n" +
      ndvCte("vfs", "SELECT md5(CAST(skey AS VARCHAR)) AS key FROM (SELECT DISTINCT skey FROM e)", "ndv") + ",\n" +
      ndvCte("vp", "SELECT md5(CAST(pkey AS VARCHAR)) AS key FROM pd", "ndv") + ",\n" +
      ndvCte("vs", "SELECT md5(CAST(skey AS VARCHAR)) AS key FROM sd", "ndv") + ",\n" +
      """ep AS (SELECT CAST(CAST(nf.n AS HUGEINT) * np.n
        |                   // greatest(vfp.ndv, vp.ndv, 1) AS BIGINT)
        |                AS est_part FROM nf, np, vfp, vp),
        |es AS (SELECT CAST(CAST(nf.n AS HUGEINT) * ns.n
        |                   // greatest(vfs.ndv, vs.ndv, 1) AS BIGINT)
        |                AS est_supp FROM nf, ns, vfs, vs),
        |x AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |             CAST(sum(e.cents) AS BIGINT) AS sum_cents
        |       FROM e JOIN pd USING (pkey) JOIN sd USING (skey))
        |SELECT ep.est_part, es.est_supp,
        |       CASE WHEN ep.est_part <= es.est_supp THEN 'part_dim'
        |            ELSE 'supp_dim' END AS first_dim,
        |       x.n_rows, x.sum_cents
        |FROM ep, es, x""".stripMargin)),

    QueryDef("q508_hook_layout_state", (s, d) => {
      // the FULL statistics lifecycle closing q504's loop through the
      // hook: analyzeHook now maintains all FOUR register families as
      // declared sidecars — counts + KMV registers (as before), the
      // MCV profile for declared equality keys, and quantile summaries
      // for declared range columns — so the layout advisor runs
      // entirely off hook-maintained storage BY NAME, zero inline
      // profile builds (the q494 position extended: forgetting ANALYZE
      // is impossible because the statistics are part of the model).
      // Same workload and candidates as q504; the advice and every
      // digit must match q504's inline-built answer — the sidecar
      // round-trip is an identity, which is exactly the point.
      import graft.engine.{Model, Registry, TableMat, TableStats, ViewMat}
      val wh = Scratch.warehouse("q508", d, s, Seq(
        "li_p", "li_p__stats_counts", "li_p__stats_regs",
        "li_p__stats_mcv", "li_p__stats_sums"))
      val reg = new Registry(s, wh)
      reg.source("li_src", table(s, d, "lineitem").select(
        col("l_suppkey").cast("long").as("skey"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents")))
      reg.register(Model("li_p", Seq("li_src"), TableMat(),
        ctx => ctx.ref("li_src"),
        postHooks = Seq(TableStats.analyzeHook(Seq("skey", "cents"), 256,
          mcvCols = Seq("skey"), mcvK = 64,
          summaryCols = Seq("skey", "cents"), summaryK = 256))))
      reg.run()
      import s.implicits._
      val workload = Seq(
        ("skey", "eq", Option.empty[Long], Option.empty[Long],
          Some("7"), 4L),
        ("skey", "eq", Option.empty[Long], Option.empty[Long],
          Some("42"), 4L),
        ("cents", "range", Some(1000000L), Some(5000000L),
          Option.empty[String], 1L))
        .toDF("wl_col", "wl_kind", "wl_lo", "wl_hi", "wl_value",
          "wl_weight")
      TableStats.layoutAdvisor(
        wh.read("li_p__stats_sums"), wh.read("li_p__stats_mcv"),
        wh.read("li_p__stats_counts"),
        TableStats.ndvEstimate(wh.read("li_p__stats_regs"), 256),
        workload, Seq("cents", "skey"))
    }, Some(
      """WITH e AS (SELECT CAST(l_suppkey AS BIGINT) AS skey,
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
        |selr AS (SELECT CAST(CAST(sum(CASE WHEN v >= 1000000
        |                                    AND v <= 5000000
        |                               THEN w ELSE 0 END) AS HUGEINT)
        |                     * 1000000
        |                // greatest(CAST(sum(w) AS HUGEINT), 1) AS BIGINT)
        |                  AS frac FROM kc),
        |ms AS (SELECT CAST(skey AS VARCHAR) AS mcv_value,
        |              CAST(count(*) AS BIGINT) AS mcv_count
        |       FROM e GROUP BY 1),
        |mk AS (SELECT mcv_value, mcv_count
        |       FROM (SELECT mcv_value, mcv_count,
        |                    row_number() OVER (ORDER BY mcv_count DESC,
        |                                       mcv_value ASC) AS rn
        |             FROM ms) t WHERE rn <= 64),
        |magg AS (SELECT CAST(coalesce(sum(mcv_count), 0) AS BIGINT)
        |                  AS mcv_mass,
        |                CAST(count(*) AS BIGINT) AS mcv_n FROM mk),
        |nn AS (SELECT CAST(count(skey) AS BIGINT) AS n FROM e),
        |""".stripMargin +
      ndvCte("vs", "SELECT md5(CAST(skey AS VARCHAR)) AS key FROM (SELECT DISTINCT skey FROM e)", "ndv") + ",\n" +
      """eqf AS (SELECT t.val,
        |               CAST(CAST(CASE WHEN mk.mcv_count IS NOT NULL
        |                              THEN mk.mcv_count
        |                              ELSE (nn.n - magg.mcv_mass)
        |                                   // greatest(vs.ndv - magg.mcv_n,
        |                                              1)
        |                         END AS HUGEINT) * 1000000
        |                    // greatest(nn.n, 1) AS BIGINT) AS frac
        |        FROM (VALUES ('7'), ('42')) t(val)
        |        LEFT JOIN mk ON mk.mcv_value = t.val, nn, magg, vs),
        |cand AS (SELECT 'cents' AS layout_col,
        |                CAST((4 * 1000000 + 4 * 1000000 + 1 * selr.frac)
        |                     // 9 AS BIGINT) AS est_scan_ppm
        |         FROM selr
        |         UNION ALL
        |         SELECT 'skey',
        |                CAST((4 * f7.frac + 4 * f42.frac + 1 * 1000000)
        |                     // 9 AS BIGINT)
        |         FROM (SELECT frac FROM eqf WHERE val = '7') f7,
        |              (SELECT frac FROM eqf WHERE val = '42') f42)
        |SELECT layout_col, est_scan_ppm,
        |       CAST(CASE WHEN row_number() OVER
        |                        (ORDER BY est_scan_ppm ASC, layout_col ASC)
        |                      = 1
        |                 THEN 1 ELSE 0 END AS BIGINT) AS chosen
        |FROM cand""".stripMargin)),

    QueryDef("q509_declared_skew_join", (s, d) => {
      // the last proven cost-model face folded into the materializer:
      // CERTIFIED SKEW ROUTING as a declared property of ctx.join
      // (q492's hand-wired routing + q501's stream evidence, now one
      // parameter): the fact model's analyze hook declares mgCols, so
      // its Misra-Gries registers live as the `__stats_mg` sidecar, and
      // `ctx.join(..., routeSkewPpm = Some(100000))` reads them at plan
      // time — any key whose STORED count certifies >= 10% of the fact
      // (stored MG counts are lower bounds -> certification sound; 1e6/
      // (k+1) = 111k ppm ~ the completeness threshold at k=8) routes
      // the join through Skew.hotColdJoin: the planted key 1 (o_orderkey
      // % 3 = 0 remaps ~a third of orders — documented plant, the
      // TPC-H-ish tables are deliberately uniform) broadcasts its dim
      // row and NEVER shuffles, the cold tail takes the ordinary
      // shuffle join. Without routing this dim (1500 keys > the 1000
      // budget) would have been a plain shuffle join with one reducer
      // owning a third of the fact. Inner-join semantics make the
      // routed union EXACTLY the plain join — the oracle, identical to
      // q492's. RegistrySpec pins the decision line, the hot branch's
      // BroadcastHashJoin, identity, the no-certified fall-through and
      // the missing-sidecar raise.
      import graft.engine.{Model, Registry, TableMat, TableStats, ViewMat}
      val wh = Scratch.warehouse("q509", d, s, Seq(
        "hot_fact", "hot_fact__stats_counts", "hot_fact__stats_regs",
        "hot_fact__stats_mg",
        "cust_dim", "cust_dim__stats_counts", "cust_dim__stats_regs"))
      val reg = new Registry(s, wh)
      reg.source("ord_src", table(s, d, "orders").select(
        when(col("o_orderkey") % 3L === 0L, 1L)
          .otherwise(col("o_custkey").cast("long")).as("hk"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")))
      reg.source("cust_src", table(s, d, "customer").select(
        col("c_custkey").cast("long").as("hk"),
        col("c_nationkey").cast("long").as("nation")))
      reg.register(Model("hot_fact", Seq("ord_src"), TableMat(),
        ctx => ctx.ref("ord_src"),
        postHooks = Seq(TableStats.analyzeHook(Seq("hk"),
          mgCols = Seq("hk"), mgK = 8))))
      reg.register(Model("cust_dim", Seq("cust_src"), TableMat(),
        ctx => ctx.ref("cust_src"),
        postHooks = Seq(TableStats.analyzeHook(Seq("hk")))))
      reg.register(Model("routed", Seq("hot_fact", "cust_dim"), ViewMat,
        ctx => ctx.join("hot_fact", "cust_dim", Seq("hk"),
          broadcastMaxRows = 1000L, routeSkewPpm = Some(100000L))))
      reg.run()
      reg.relation("routed").groupBy(col("nation"))
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

    QueryDef("q510_layout_hook_lifecycle", (s, d) => {
      // OPTIMIZE as a model post-hook — advice ACTED ON inside the
      // lifecycle (TableStats.zorderHook, the analyzeHook position one
      // step further; Snowflake's automatic clustering service re-lays
      // micro-partitions against declared keys, here the declared BOX
      // WORKLOAD + the model's own hook-written summaries decide): ONE
      // reg.run() materializes the fact, profiles it (analyzeHook with
      // summaryCols — hooks run in declaration order), advises the
      // layout from the stored summaries (the q505 pair wins on this
      // workload), REBUILDS the relation along the chosen Morton curve,
      // writes the manifest over every candidate column — and the
      // downstream model's declared-predicate box ref
      // (RefRange x RefRange) prunes against exactly that layout. The
      // oracle is the plain 2-d filter (the q457 identity discipline:
      // pruning must be invisible to the result; the file-level
      // decision is pinned in TableStatsSpec).
      import graft.engine.{Model, RefRange, Registry, TableMat,
        TableStats, ViewMat}
      import s.implicits._
      val wh = Scratch.warehouse("q510", d, s, Seq(
        "li_z", "li_z__stats_counts", "li_z__stats_regs",
        "li_z__stats_sums"))
      val reg = new Registry(s, wh)
      reg.source("li_src", table(s, d, "lineitem").select(
        col("l_partkey").cast("long").as("pkey"),
        col("l_suppkey").cast("long").as("skey"),
        col("l_quantity").cast("long").as("qty"),
        col("l_returnflag").as("flag")))
      val boxes = Seq(
        ("pkey", 1L, 500L, "skey", 1L, 25L, 3L),
        ("pkey", 1L, 200L, "skey", 0L, 100000L, 1L))
        .toDF("wl_col1", "wl_lo1", "wl_hi1", "wl_col2", "wl_lo2",
          "wl_hi2", "wl_weight")
      reg.register(Model("li_z", Seq("li_src"), TableMat(),
        ctx => ctx.ref("li_src"),
        postHooks = Seq(
          TableStats.analyzeHook(Seq("pkey", "skey"),
            summaryCols = Seq("pkey", "skey")),
          TableStats.zorderHook(boxes,
            Seq(Seq("pkey"), Seq("skey"), Seq("pkey", "skey")),
            numFiles = 16))))
      reg.register(Model("box", Seq("li_z"), ViewMat,
        ctx => ctx.ref("li_z", Seq(RefRange("pkey", 1L, 500L),
          RefRange("skey", 1L, 25L)))
          .groupBy(col("flag"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("long").as("sum_qty"))))
      reg.run()
      reg.relation("box")
    }, Some(
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE CAST(l_partkey AS BIGINT) >= 1
        |  AND CAST(l_partkey AS BIGINT) <= 500
        |  AND CAST(l_suppkey AS BIGINT) >= 1
        |  AND CAST(l_suppkey AS BIGINT) <= 25
        |GROUP BY 1""".stripMargin)),

    QueryDef("q511_declared_q3", (s, d) => {
      // ROUND CAPSTONE: TPC-H Q3 as a fully DECLARED Registry DAG — the
      // q499 plan reproduced with zero hand-wired planning code. q499
      // proved the machinery (manifest-pruned dates, the Selinger order
      // pick, the profile-driven broadcast) as driver code around the
      // engine; here every one of those decisions is a DECLARED model
      // property the materializer resolves itself:
      //  - date windows are declared-predicate refs (RefRange over the
      //    epoch-day manifests the clustered CTAS models carry) — the
      //    window models' one-time materializations read only in-window
      //    FILES;
      //  - each window model's analyze hook profiles the FILTERED
      //    relation (the derived-statistics discipline q493 named: the
      //    profile is built after the predicate);
      //  - the Selinger-picked inner build (orders x BUILDING first —
      //    q493/q499's 20x pick) is the DAG structure, and both joins'
      //    physical plans resolve from the hook-maintained profiles
      //    inside ctx.join (c_b ~60 keys under the 1000 budget ->
      //    broadcast; the oc intermediate under the 10000 budget ->
      //    broadcast into the lineitem window).
      // One reg.run() materializes the whole plan in dependency order.
      // The oracle is the plain three-way join — pruning, ordering and
      // broadcasting provably invisible to the result (q499's oracle
      // minus the hand-wired planned_order column).
      import graft.engine.{HookContext, Model, RefRange, Registry,
        TableMat, TableStats, ViewMat}
      val wh = Scratch.warehouse("q511", d, s, Seq(
        "c_b", "c_b__stats_counts", "c_b__stats_regs",
        "ord_t", "ord_w", "ord_w__stats_counts", "ord_w__stats_regs",
        "li_t", "li_w", "li_w__stats_counts", "li_w__stats_regs",
        "oc", "oc__stats_counts", "oc__stats_regs"))
      val reg = new Registry(s, wh)
      val day = (c: org.apache.spark.sql.Column) =>
        datediff(to_date(c), lit("1970-01-01").cast("date"))
      val cutoff = java.time.LocalDate.parse("1996-06-01").toEpochDay
      reg.source("cust_src", table(s, d, "customer").select(
        col("c_custkey").cast("long").as("ck"), col("c_mktsegment").as("seg")))
      reg.source("ord_src", table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        col("o_custkey").cast("long").as("ck"),
        day(col("o_orderdate")).as("od_day")))
      reg.source("li_src", table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("okey"),
        day(col("l_shipdate")).as("ship_day"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100
          + 0.5).cast("long").as("rev_cents")))
      reg.register(Model("c_b", Seq("cust_src"), TableMat(),
        ctx => ctx.ref("cust_src").filter(col("seg") === "BUILDING")
          .select(col("ck")),
        postHooks = Seq(TableStats.analyzeHook(Seq("ck")))))
      // clustered bases carrying the min/max manifests the declared
      // window refs prune against
      reg.register(Model("ord_t", Seq("ord_src"),
        TableMat(clusterBy = Seq("od_day")), ctx => ctx.ref("ord_src"),
        postHooks = Seq((hc: HookContext) =>
          { hc.wh.writeStatsManifest("ord_t", Seq("od_day")); () })))
      reg.register(Model("li_t", Seq("li_src"),
        TableMat(clusterBy = Seq("ship_day")), ctx => ctx.ref("li_src"),
        postHooks = Seq((hc: HookContext) =>
          { hc.wh.writeStatsManifest("li_t", Seq("ship_day")); () })))
      // declared windows: file-pruned one-time materializations, each
      // profiled AFTER its predicate (derived statistics)
      reg.register(Model("ord_w", Seq("ord_t"), TableMat(),
        ctx => ctx.ref("ord_t",
          Seq(RefRange("od_day", Long.MinValue + 1L, cutoff - 1L))),
        postHooks = Seq(TableStats.analyzeHook(Seq("ck", "okey")))))
      reg.register(Model("li_w", Seq("li_t"), TableMat(),
        ctx => ctx.ref("li_t",
          Seq(RefRange("ship_day", cutoff + 1L, Long.MaxValue - 1L))),
        postHooks = Seq(TableStats.analyzeHook(Seq("okey")))))
      // the Selinger-picked inner build, broadcast resolved from stats
      reg.register(Model("oc", Seq("ord_w", "c_b"), TableMat(),
        ctx => ctx.join("ord_w", "c_b", Seq("ck"),
          broadcastMaxRows = 1000L).select(col("okey")),
        postHooks = Seq(TableStats.analyzeHook(Seq("okey")))))
      reg.register(Model("q3", Seq("li_w", "oc"), ViewMat,
        ctx => ctx.join("li_w", "oc", Seq("okey"),
          broadcastMaxRows = 10000L)
          .groupBy(col("okey"))
          .agg(sum(col("rev_cents")).cast("long").as("revenue_cents"),
            count(lit(1)).as("n_lines"))
          .orderBy(col("revenue_cents").desc, col("okey").asc)
          .limit(10)))
      reg.run()
      reg.relation("q3")
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
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM j GROUP BY 1
        |ORDER BY revenue_cents DESC, okey ASC LIMIT 10""".stripMargin))
  )
}
