package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Checks
import graft.sources.Sources.table

/** Round-15 continuation battery: the materialized-view-rewrite face of
  * the warehouse ([[graft.engine.Rollup]] — declared rollup sidecars +
  * subsumption-based aggregate rewrite through `ctx.aggRef`), composed
  * with the O(batch) AggregateMat maintenance path. Exact integer
  * arithmetic and verbatim oracle replay throughout.
  */
object Round15bQueries extends QuerySet {

  val all: Seq[QueryDef] = Seq(

    QueryDef("q512_rollup_rewrite", (s, d) => {
      // the MATERIALIZED-VIEW REWRITE as a declared Registry surface
      // (Rollup.scala — the Calcite/Snowflake smart-rewrite shape in the
      // engine's sidecar idiom): the `li` model DECLARES a rollup over
      // (rflag, lstatus, shipyear) with sum/count/min/max measures
      // (postHooks = Seq(Rollup.rollupHook(...)) — the analyzeHook
      // lifecycle position), and the downstream model asks for its
      // aggregate through `ctx.aggRef(li, groupBy=rflag, preds=
      // lstatus IN ('F'))`. The REGISTRY proves subsumption (grouping
      // and predicate columns inside the rollup dims, every wanted agg a
      // declared monoid measure) and serves the answer by re-aggregating
      // the STORED partials — at sf0.01 a 42-row sidecar instead of the
      // 60 000-row base scan; at 100 TB the difference between a
      // dashboard reading kilobytes and re-scanning the corpus. Exactness
      // is structural: sum/count/min/max are commutative monoids, so
      // re-aggregation over the by-dim-tuple partition equals the direct
      // aggregate digit-for-digit on the cents-fixed-point columns.
      // n_served pins the decision (1 = the resolver logged SERVED for
      // the daily model); RegistrySpec pins the PHYSICAL half — the
      // served plan's inputFiles all land under li__rollup_by_flag_year.
      import graft.engine.{Model, Registry, RefIn, Rollup, TableMat, ViewMat}
      import graft.engine.Rollup.{Measure, Want}
      val wh = Scratch.warehouse("q512", d, s, Seq(
        "li", "li__rollup_by_flag_year", "li__rollup_spec"))
      val reg = new Registry(s, wh)
      reg.source("li_src", table(s, d, "lineitem").select(
        col("l_returnflag").as("rflag"),
        col("l_linestatus").as("lstatus"),
        year(col("l_shipdate")).cast("long").as("shipyear"),
        col("l_quantity").cast("long").as("qty_c"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("price_c")))
      reg.register(Model("li", Seq("li_src"), TableMat(),
        ctx => ctx.ref("li_src"),
        postHooks = Seq(Rollup.rollupHook("by_flag_year",
          Seq("rflag", "lstatus", "shipyear"),
          Seq(Measure("sum", "qty_c"), Measure("sum", "price_c"),
            Measure("count", "*"), Measure("min", "price_c"),
            Measure("max", "price_c"))))))
      reg.register(Model("daily", Seq("li"), ViewMat,
        ctx => ctx.aggRef("li", Seq("rflag"),
          Seq(Want("sum_qty", "sum", "qty_c"),
            Want("n_rows", "count", "*"),
            Want("max_price_c", "max", "price_c")),
          preds = Seq(RefIn("lstatus", Seq("F"))))))
      reg.run()
      val served = reg.metadataOps.count(l =>
        l.startsWith("agg_ref daily:") && l.contains("SERVED"))
      reg.relation("daily")
        .withColumn("n_served", lit(served.toLong))
        .orderBy(col("rflag"))
    }, Some(
      """SELECT l_returnflag AS rflag,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |            AS BIGINT) AS max_price_c,
        |       CAST(1 AS BIGINT) AS n_served
        |FROM lineitem WHERE l_linestatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q513_rollup_subsumption_matrix", (s, d) => {
      // the REWRITE DECISION matrix — one declared rollup, three
      // requests, each row carrying the resolver's logged verdict beside
      // the (identical-either-way) answer: (a) a GLOBAL sum under a
      // shipyear RANGE predicate — grouping ∅ ⊆ dims, predicate column a
      // dim, sum(qty_c) a declared measure -> SERVED from the 42-row
      // sidecar; (b) the same sum under a predicate on okey_mod — a
      // column the model CARRIES but the rollup does NOT — the rollup
      // cannot apply that filter to its pre-aggregated tuples, so the
      // request computes from BASE (served=0; a wrong rewrite here would
      // be the classic aggregate-rewrite unsoundness); (c) min(qty_c),
      // an op the rollup never declared -> underivable, BASE. Rows are
      // row-identical to the direct aggregate in all three cases (the
      // rewrite is physical, never semantic) — the oracle replays the
      // values from lineitem and the flags from the deterministic
      // subsumption rule.
      import graft.engine.{Model, Registry, RefIn, RefRange, Rollup,
        TableMat, ViewMat}
      import graft.engine.Rollup.{Measure, Want}
      val wh = Scratch.warehouse("q513", d, s, Seq(
        "li", "li__rollup_by_flag_year", "li__rollup_spec"))
      val reg = new Registry(s, wh)
      reg.source("li_src", table(s, d, "lineitem").select(
        col("l_returnflag").as("rflag"),
        col("l_linestatus").as("lstatus"),
        year(col("l_shipdate")).cast("long").as("shipyear"),
        (col("l_orderkey") % 10).cast("long").as("okey_mod"),
        col("l_quantity").cast("long").as("qty_c")))
      reg.register(Model("li", Seq("li_src"), TableMat(),
        ctx => ctx.ref("li_src"),
        postHooks = Seq(Rollup.rollupHook("by_flag_year",
          Seq("rflag", "lstatus", "shipyear"),
          Seq(Measure("sum", "qty_c"), Measure("count", "*"))))))
      reg.register(Model("m_a", Seq("li"), ViewMat,
        ctx => ctx.aggRef("li", Nil, Seq(Want("val_c", "sum", "qty_c")),
          preds = Seq(RefRange("shipyear", 1996L, 1997L)))))
      reg.register(Model("m_b", Seq("li"), ViewMat,
        ctx => ctx.aggRef("li", Nil, Seq(Want("val_c", "sum", "qty_c")),
          preds = Seq(RefIn("okey_mod", Seq(3L))))))
      reg.register(Model("m_c", Seq("li"), ViewMat,
        ctx => ctx.aggRef("li", Nil, Seq(Want("val_c", "min", "qty_c")))))
      reg.run()
      def servedFlag(model: String): Long =
        reg.metadataOps.count(l =>
          l.startsWith(s"agg_ref $model:") && l.contains("SERVED")).toLong
      Seq("m_a" -> "a_coarser", "m_b" -> "b_pred_not_dim",
        "m_c" -> "c_underivable")
        .map { case (m, label) =>
          reg.relation(m).withColumn("which", lit(label))
            .withColumn("served", lit(servedFlag(m)))
        }.reduce(_.unionByName(_))
        .select("which", "val_c", "served").orderBy("which")
    }, Some(
      """SELECT 'a_coarser' AS which,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS val_c,
        |       CAST(1 AS BIGINT) AS served
        |FROM lineitem WHERE year(l_shipdate) BETWEEN 1996 AND 1997
        |UNION ALL
        |SELECT 'b_pred_not_dim',
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT),
        |       CAST(0 AS BIGINT)
        |FROM lineitem WHERE CAST(l_orderkey AS BIGINT) % 10 = 3
        |UNION ALL
        |SELECT 'c_underivable',
        |       CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT),
        |       CAST(0 AS BIGINT)
        |FROM lineitem
        |ORDER BY 1""".stripMargin)),

    QueryDef("q514_rollup_incremental_serve", (s, d) => {
      // the rewrite composed with O(batch) MAINTENANCE — the production
      // shape at 100 TB, where rebuilding a rollup by re-scanning the
      // base every run would cost what the rewrite saves: the partial
      // table is kept by an AggregateMat model NAMED `ord__rollup_cube`
      // (Rollup.declareSpec writes the spec row alone; aggRef serves by
      // table NAME, so a hook-written sidecar and an incrementally
      // merged model are indistinguishable to the reader). Two runs:
      // run 1 CTAS's pre-1997 orders into `ord` and their partials into
      // the cube; run 2 appends the 1997+ slice to `ord` while the
      // AggregateMat MERGES only that slice's partials (sum-combine on
      // the dim key — O(batch + dim tuples), never a base re-scan). The
      // downstream aggRef then serves per-priority totals from the
      // merged 35-row cube, digit-equal to the full recompute the oracle
      // runs over all 15 000 orders — proving run 2's answer reads
      // run 1's merged state from storage, not any single slice.
      import graft.engine.{AggregateMat, Incremental, IncrementalMat,
        Model, Registry, Rollup, ViewMat}
      import graft.engine.Rollup.{Measure, Want}
      val wh = Scratch.warehouse("q514", d, s, Seq(
        "ord", "ord__rollup_cube", "ord__rollup_spec"))
      val dims = Seq("oyear", "oprio")
      val measures = Seq(Measure("sum", "cents"), Measure("count", "*"))
      Rollup.declareSpec(s, wh, "ord", "cube", dims, measures)
      val reg = new Registry(s, wh)
      reg.source("ord_src", table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        year(col("o_orderdate")).cast("long").as("oyear"),
        col("o_orderpriority").as("oprio"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")))
      def slice(ctx: graft.engine.ModelContext) = {
        val src = ctx.ref("ord_src")
        if (ctx.isIncremental) src.filter(col("oyear") >= 1997L)
        else src.filter(col("oyear") < 1997L)
      }
      reg.register(Model("ord", Seq("ord_src"),
        IncrementalMat(Incremental.Append, Nil), slice))
      reg.register(Model("ord__rollup_cube", Seq("ord_src"),
        AggregateMat(dims, Seq("sum_cents" -> "sum", "count_all" -> "sum")),
        ctx => Rollup.partials(slice(ctx), dims, measures)))
      reg.register(Model("by_prio", Seq("ord", "ord__rollup_cube"), ViewMat,
        ctx => ctx.aggRef("ord", Seq("oprio"),
          Seq(Want("cents_total", "sum", "cents"),
            Want("n_orders", "count", "*")))))
      reg.run() // CTAS: pre-1997 orders + their partials
      reg.run() // append 1997+ slice; cube merges ONLY that slice
      val served = reg.metadataOps.count(l =>
        l.startsWith("agg_ref by_prio:") && l.contains("SERVED"))
      val cubeRows = wh.read("ord__rollup_cube").count()
      reg.relation("by_prio")
        .withColumn("n_served_run2", lit(served.toLong - 1L))
        .withColumn("n_cube_rows", lit(cubeRows))
        .orderBy(col("oprio"))
    }, Some(
      """SELECT o_orderpriority AS oprio,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |            AS BIGINT) AS cents_total,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(1 AS BIGINT) AS n_served_run2,
        |       (SELECT CAST(count(*) AS BIGINT) FROM
        |         (SELECT DISTINCT year(o_orderdate), o_orderpriority
        |          FROM orders)) AS n_cube_rows
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q515_versioned_corpus", (s, d) => {
      // TIME TRAVEL as a materialization (engine/Warehouse.scala
      // writeVersioned/readVersioned + Registry VersionedTableMat — the
      // public Delta/Iceberg snapshot idea at model grain, built on the
      // warehouse's one staged commit): three Registry runs land corpus
      // v1/v2/v3 as IMMUTABLE version dirs (a version dir existing means
      // it is complete — a crashed write leaves only the name's staging,
      // which no listing reads), and AFTER v3 is current every older
      // version is still readable BY NUMBER, digit-exact. That is the
      // training-reproducibility contract a 100 TB corpus pipeline needs: "run X
      // trained on corpus v2" stays answerable — and re-runnable — after
      // the corpus moves on. One output row per live version with its
      // full aggregate re-read from storage post-hoc, plus the current
      // pointer; the oracle replays each version's deterministic filter.
      import graft.engine.{Model, Registry, VersionedTableMat}
      val wh = Scratch.warehouse("q515", d, s, Nil)
      wh.drop("corpus")
      def runWith(maxId: Long): Unit = {
        val reg = new Registry(s, wh)
        reg.source("docs_src", table(s, d, "documents")
          .filter(col("doc_id") < maxId)
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
            col("n_chars").cast("long").as("n_chars")))
        reg.register(Model("corpus", Seq("docs_src"), VersionedTableMat(),
          ctx => ctx.ref("docs_src")))
        reg.run()
      }
      Seq(200L, 350L, 500L).foreach(runWith)
      val cur = wh.currentVersion("corpus")
      wh.versionsOf("corpus").map { v =>
        wh.readVersioned("corpus", v)
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .withColumn("version", lit(v))
          .withColumn("current_version", lit(cur))
      }.reduce(_.unionByName(_))
        .select("version", "n_docs", "sum_chars", "current_version")
        .orderBy("version")
    }, Some(
      """SELECT CAST(v AS BIGINT) AS version,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(3 AS BIGINT) AS current_version
        |FROM (SELECT 1 AS v, 200 AS cut UNION ALL SELECT 2, 350
        |      UNION ALL SELECT 3, 500) cuts
        |JOIN documents ON doc_id < cut
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q516_version_diff_retention", (s, d) => {
      // the AUDIT face of time travel: versions whose content CHANGES
      // (not just grows) are diffable by key straight from storage —
      // added = v3 anti-join v2, removed = v2 anti-join v3, both plain
      // broadcast-able anti joins over the two pinned snapshots (no
      // tombstone log to replay: versions are whole materializations).
      // Retention: keep=2 means the v3 write deletes v1 in the same
      // commit record that lands v3 (a crash mid-delete is finished
      // before any listing, never a partial dir posing as complete), so
      // the live set is exactly {2, 3} — pinned in the live_versions column — and the
      // dropped v1 raises on read (RegistrySpec). Content: v_k keeps
      // doc_id % 4 in {k-1, k}, so v2->v3 adds the %4==3 slice and
      // removes the %4==1 slice; the oracle replays both anti joins.
      import graft.engine.{Model, Registry, VersionedTableMat}
      val wh = Scratch.warehouse("q516", d, s, Nil)
      wh.drop("corpus")
      def runWith(k: Long): Unit = {
        val reg = new Registry(s, wh)
        reg.source("docs_src", table(s, d, "documents")
          .filter((col("doc_id") % 4) === (k - 1) || (col("doc_id") % 4) === k)
          .select(col("doc_id").cast("long").as("doc_id"),
            col("n_chars").cast("long").as("n_chars")))
        reg.register(Model("corpus", Seq("docs_src"),
          VersionedTableMat(keep = 2),
          ctx => ctx.ref("docs_src")))
        reg.run()
      }
      Seq(1L, 2L, 3L).foreach(runWith)
      val v2 = wh.readVersioned("corpus", 2L)
      val v3 = wh.readVersioned("corpus", 3L)
      val added = v3.join(broadcast(v2), Seq("doc_id"), "left_anti").count()
      val removed = v2.join(broadcast(v3), Seq("doc_id"), "left_anti").count()
      val common = v3.join(broadcast(v2), Seq("doc_id"), "left_semi").count()
      val s2 = s
      import s2.implicits._
      Seq((wh.currentVersion("corpus"),
        wh.versionsOf("corpus").mkString("|"), added, removed, common))
        .toDF("current_version", "live_versions", "n_added", "n_removed",
          "n_common")
    }, Some(
      """SELECT CAST(3 AS BIGINT) AS current_version,
        |       '2|3' AS live_versions,
        |       CAST((SELECT count(*) FROM documents WHERE doc_id % 4 = 3)
        |            AS BIGINT) AS n_added,
        |       CAST((SELECT count(*) FROM documents WHERE doc_id % 4 = 1)
        |            AS BIGINT) AS n_removed,
        |       CAST((SELECT count(*) FROM documents WHERE doc_id % 4 = 2)
        |            AS BIGINT) AS n_common""".stripMargin)),

    QueryDef("q517_aqp_stored_sample", (s, d) => {
      // APPROXIMATE QUERY PROCESSING from a stored uniform sample
      // (Sketches.uniformSampleTable — the BlinkDB/online-aggregation
      // idea in the engine's md5-bottom-k idiom): ONE 256-row sample of
      // the 15 000 orders, stored once, answers the total-revenue ask as
      // `est = n * sum(sample cents) div k` — exact-integer Horvitz-
      // Thompson with the known base count, every digit replayed by the
      // oracle (DuckDB orders by the same md5 and truncates the same
      // divisions). Beside the estimate: the exact total (the contrast),
      // the realized error in ppm, and a SELF-CERTIFYING Chebyshev
      // bound computed from the sample's own variance — var(est) <=
      // n^2 * s^2 div k (the without-replacement correction only
      // shrinks it, so dropping fpc is conservative), and cheb_within_95
      // reports whether the realized error lands inside the 20x-variance
      // band (P >= 95% by Chebyshev, no normality assumed). sqrt-free by
      // construction: both sides stay SQUARED in DECIMAL(38,0), the
      // Round11 Chebyshev discipline. At 100 TB the sample is the only
      // thing read at ask time — the base scan happened once, at build.
      import graft.functions.Sketches
      val wh = Scratch.warehouse("q517", d, s, Seq("ord_sample"))
      val ords = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        col("o_orderpriority").as("oprio"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      wh.writeSwap("ord_sample",
        Sketches.uniformSampleTable(ords, col("okey"), 256))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val samp = wh.read("ord_sample")
        .agg(first(col("aqp_n")).as("n"), first(col("aqp_k")).as("k"),
          sum(col("cents")).as("sum_s"),
          sum(dec(col("cents")) * dec(col("cents"))).as("sumsq_s"))
      val exact = ords.agg(sum(col("cents")).as("exact_cents"))
      // the Chebyshev band compares CROSS-MULTIPLIED (division-free):
      // diff^2 <= 20 * n^2 * s^2 / k with s^2 = (k*sumsq - sum^2)/(k(k-1))
      // <=> k^2 (k-1) diff^2 <= 20 n^2 (k*sumsq - sum^2) — an EXACT
      // rational comparison in DECIMAL(38,0) (max term ~1.7e31), no
      // truncating intermediate to disagree over
      samp.crossJoin(exact)
        .withColumn("est_cents", call_function("div",
          dec(col("n")) * dec(col("sum_s")), dec(col("k"))).cast("long"))
        .withColumn("err_ppm", call_function("div",
          abs(dec(col("est_cents")) - dec(col("exact_cents"))) * lit(1000000L),
          dec(col("exact_cents"))).cast("long"))
        .withColumn("cheb_within_95",
          when(dec(col("k")) * dec(col("k")) * dec(col("k") - 1L) *
            (dec(col("est_cents")) - dec(col("exact_cents"))) *
            (dec(col("est_cents")) - dec(col("exact_cents")))
            <= lit(20L) * dec(col("n")) * dec(col("n")) *
              (dec(col("k")) * col("sumsq_s")
                - dec(col("sum_s")) * dec(col("sum_s"))), 1L)
            .otherwise(0L))
        .select(col("n"), col("k"), col("est_cents"), col("exact_cents"),
          col("err_ppm"), col("cheb_within_95"))
    }, Some(
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |samp AS (SELECT cents FROM src ORDER BY md5(CAST(okey AS VARCHAR))
        |         LIMIT 256),
        |agg AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM src) AS n,
        |               CAST(count(*) AS BIGINT) AS k,
        |               CAST(sum(cents) AS HUGEINT) AS sum_s,
        |               sum(CAST(cents AS HUGEINT) * cents) AS sumsq_s
        |        FROM samp),
        |est AS (SELECT n, k, sum_s, sumsq_s,
        |               CAST((n * sum_s) // k AS BIGINT) AS est_cents
        |        FROM agg),
        |ex AS (SELECT CAST(sum(cents) AS BIGINT) AS exact_cents FROM src)
        |SELECT n, k, est_cents, exact_cents,
        |       CAST(abs(CAST(est_cents AS HUGEINT) - exact_cents) * 1000000
        |            // exact_cents AS BIGINT) AS err_ppm,
        |       CAST(CASE WHEN
        |         CAST(k AS HUGEINT) * k * (k - 1)
        |           * (CAST(est_cents AS HUGEINT) - exact_cents)
        |           * (CAST(est_cents AS HUGEINT) - exact_cents)
        |         <= 20 * CAST(n AS HUGEINT) * n
        |            * (k * sumsq_s - sum_s * sum_s)
        |         THEN 1 ELSE 0 END AS BIGINT) AS cheb_within_95
        |FROM est, ex""".stripMargin)),

    QueryDef("q518_aqp_posthoc_predicates", (s, d) => {
      // the property that makes the stored sample WORTH storing — CLOSURE
      // UNDER SELECTION: nobody declared o_orderpriority at build time,
      // yet the SAME 256-row sample answers per-priority revenue and
      // count because a uniform sample filtered by any predicate is a
      // uniform sample of the predicate's rows (the opposite trade to
      // q512's rollup, which answers only DECLARED dims but exactly —
      // together they bracket the summary-serving design space). Per
      // group: m_g sample hits, est_n = n*m_g div k, est_cents =
      // n*sum_g div k (global-rate Horvitz-Thompson — group sizes never
      // consulted), the exact contrasts, and the realized error. The
      // oracle replays the identical md5 sample and divisions.
      import graft.functions.Sketches
      val wh = Scratch.warehouse("q518", d, s, Seq("ord_sample"))
      val ords = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        col("o_orderpriority").as("oprio"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      wh.writeSwap("ord_sample",
        Sketches.uniformSampleTable(ords, col("okey"), 256))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val perGroup = wh.read("ord_sample")
        .groupBy("oprio")
        .agg(first(col("aqp_n")).as("n"), first(col("aqp_k")).as("k"),
          count(lit(1)).as("m_g"), sum(col("cents")).as("sum_g"))
      val exact = ords.groupBy("oprio")
        .agg(count(lit(1)).as("exact_n"), sum(col("cents")).as("exact_cents"))
      perGroup.join(exact, Seq("oprio"))
        .withColumn("est_n", call_function("div",
          dec(col("n")) * dec(col("m_g")), dec(col("k"))).cast("long"))
        .withColumn("est_cents", call_function("div",
          dec(col("n")) * dec(col("sum_g")), dec(col("k"))).cast("long"))
        .withColumn("err_ppm", call_function("div",
          abs(dec(col("est_cents")) - dec(col("exact_cents"))) * lit(1000000L),
          dec(col("exact_cents"))).cast("long"))
        .select(col("oprio"), col("m_g"), col("est_n"), col("exact_n"),
          col("est_cents"), col("exact_cents"), col("err_ppm"))
        .orderBy("oprio")
    }, Some(
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS okey, o_orderpriority AS oprio,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |samp AS (SELECT oprio, cents FROM src
        |         ORDER BY md5(CAST(okey AS VARCHAR)) LIMIT 256),
        |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM src) AS n,
        |               (SELECT CAST(count(*) AS BIGINT) FROM samp) AS k),
        |grp AS (SELECT oprio, CAST(count(*) AS BIGINT) AS m_g,
        |               CAST(sum(cents) AS HUGEINT) AS sum_g
        |        FROM samp GROUP BY 1),
        |ex AS (SELECT oprio, CAST(count(*) AS BIGINT) AS exact_n,
        |              CAST(sum(cents) AS BIGINT) AS exact_cents
        |       FROM src GROUP BY 1)
        |SELECT g.oprio, g.m_g,
        |       CAST((t.n * g.m_g) // t.k AS BIGINT) AS est_n,
        |       e.exact_n,
        |       CAST((t.n * g.sum_g) // t.k AS BIGINT) AS est_cents,
        |       e.exact_cents,
        |       CAST(abs(CAST((t.n * g.sum_g) // t.k AS HUGEINT)
        |                - e.exact_cents) * 1000000
        |            // e.exact_cents AS BIGINT) AS err_ppm
        |FROM grp g, tot t, ex e WHERE g.oprio = e.oprio
        |ORDER BY 1""".stripMargin)),

    QueryDef("q519_declared_q10", (s, d) => {
      // GENERALITY capstone: TPC-H Q10 (returned-item revenue by
      // customer) as a second fully DECLARED Registry DAG — the q511
      // machinery unchanged on a different query shape, proving the
      // declared surfaces aren't Q3-shaped: the quarter window is a
      // RefRange over the clustered orders manifest (one-time
      // materialization reading only in-quarter FILES), the returned-
      // lines filter is its own profiled model (derived statistics —
      // the profile built AFTER the predicate), ctx.join resolves the
      // quarter-orders broadcast from hook-maintained counts (~540
      // orders in the quarter, under the 1000 budget), and the final
      // customer/nation widening is a ctx.starJoin with MIXED evidence:
      // cust is hook-profiled (System-R estimate -> ordered first,
      // broadcast from stored count), nation is a bare source with NO
      // profile -> ordered last in declaration order with no estimate
      // (no evidence, no reorder — the q507 discipline). One reg.run()
      // materializes the plan; the oracle is the plain four-way join,
      // pruning/ordering/broadcast provably invisible to the result.
      import graft.engine.{HookContext, Model, RefRange, Registry,
        TableMat, TableStats, ViewMat}
      val wh = Scratch.warehouse("q519", d, s, Seq(
        "ord_t", "ord_w", "ord_w__stats_counts", "ord_w__stats_regs",
        "li_r", "li_r__stats_counts", "li_r__stats_regs",
        "lo", "lo__stats_counts", "lo__stats_regs",
        "cust_t", "cust_t__stats_counts", "cust_t__stats_regs"))
      val reg = new Registry(s, wh)
      val day = (c: org.apache.spark.sql.Column) =>
        datediff(to_date(c), lit("1970-01-01").cast("date"))
      val qLo = java.time.LocalDate.parse("1996-10-01").toEpochDay
      val qHi = java.time.LocalDate.parse("1996-12-31").toEpochDay
      reg.source("ord_src", table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        col("o_custkey").cast("long").as("ck"),
        day(col("o_orderdate")).as("od_day")))
      reg.source("li_src", table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("okey"),
        col("l_returnflag").as("rflag"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100
          + 0.5).cast("long").as("rev_cents")))
      reg.source("cust_src", table(s, d, "customer").select(
        col("c_custkey").cast("long").as("ck"),
        col("c_name").as("cname"),
        col("c_nationkey").cast("long").as("nk")))
      reg.source("nat_src", table(s, d, "nation").select(
        col("n_nationkey").cast("long").as("nk"),
        col("n_name").as("nname")))
      reg.register(Model("ord_t", Seq("ord_src"),
        TableMat(clusterBy = Seq("od_day")), ctx => ctx.ref("ord_src"),
        postHooks = Seq((hc: HookContext) =>
          { hc.wh.writeStatsManifest("ord_t", Seq("od_day")); () })))
      reg.register(Model("ord_w", Seq("ord_t"), TableMat(),
        ctx => ctx.ref("ord_t", Seq(RefRange("od_day", qLo, qHi))),
        postHooks = Seq(TableStats.analyzeHook(Seq("okey", "ck")))))
      reg.register(Model("li_r", Seq("li_src"), TableMat(),
        ctx => ctx.ref("li_src").filter(col("rflag") === "R")
          .select(col("okey"), col("rev_cents")),
        postHooks = Seq(TableStats.analyzeHook(Seq("okey")))))
      reg.register(Model("lo", Seq("li_r", "ord_w"), TableMat(),
        ctx => ctx.join("li_r", "ord_w", Seq("okey"),
          broadcastMaxRows = 1000L)
          .select(col("ck"), col("rev_cents")),
        postHooks = Seq(TableStats.analyzeHook(Seq("ck")))))
      reg.register(Model("cust_t", Seq("cust_src"), TableMat(),
        ctx => ctx.ref("cust_src"),
        postHooks = Seq(TableStats.analyzeHook(Seq("ck")))))
      reg.register(Model("q10", Seq("lo", "cust_t", "nat_src"), ViewMat,
        ctx => ctx.starJoin("lo",
          Seq("cust_t" -> Seq("ck"), "nat_src" -> Seq("nk")),
          broadcastMaxRows = 100000L)
          .groupBy(col("ck"), col("cname"), col("nname"))
          .agg(sum(col("rev_cents")).cast("long").as("revenue_cents"),
            count(lit(1)).as("n_lines"))
          .orderBy(col("revenue_cents").desc, col("ck").asc)
          .limit(20)))
      reg.run()
      reg.relation("q10")
    }, Some(
      """WITH j AS (
        |  SELECT CAST(c.c_custkey AS BIGINT) AS ck, c.c_name AS cname,
        |         n.n_name AS nname,
        |         CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100
        |                    + 0.5) AS BIGINT) AS rev
        |  FROM lineitem l
        |  JOIN orders o ON CAST(l.l_orderkey AS BIGINT)
        |                     = CAST(o.o_orderkey AS BIGINT)
        |  JOIN customer c ON CAST(o.o_custkey AS BIGINT)
        |                       = CAST(c.c_custkey AS BIGINT)
        |  JOIN nation n ON CAST(c.c_nationkey AS BIGINT)
        |                     = CAST(n.n_nationkey AS BIGINT)
        |  WHERE l.l_returnflag = 'R'
        |    AND CAST(o.o_orderdate AS DATE) >= DATE '1996-10-01'
        |    AND CAST(o.o_orderdate AS DATE) <= DATE '1996-12-31')
        |SELECT ck, cname, nname,
        |       CAST(sum(rev) AS BIGINT) AS revenue_cents,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM j GROUP BY 1, 2, 3
        |ORDER BY revenue_cents DESC, ck ASC LIMIT 20""".stripMargin)),

    QueryDef("q520_aqp_sample_hook", (s, d) => {
      // the stored sample as a DECLARED SIDECAR (TableStats.sampleHook —
      // the sixth hook-maintained summary family beside counts/KMV,
      // MCV, quantile summaries, MG and rollups): the corpus model
      // declares `sampleHook("doc_id", 64)` and every materialization
      // rewrites `<model>__aqp_sample`, so the sample a consumer reads
      // BY NAME always describes the CURRENT relation — two runs here
      // (run 1 a 300-doc subset, run 2 the full 500) and the ask reads
      // run 2's sidecar: n = 500, estimates scale by the refreshed
      // count. A stale-sample bug would surface as run-1 digits; the
      // oracle replays the run-2 corpus' md5-bottom-64 exactly.
      import graft.engine.{Model, Registry, TableMat, TableStats, ViewMat}
      val wh = Scratch.warehouse("q520", d, s, Seq(
        "docs_t", "docs_t__aqp_sample"))
      def runWith(maxId: Long): Unit = {
        val reg = new Registry(s, wh)
        reg.source("docs_src", table(s, d, "documents")
          .filter(col("doc_id") < maxId)
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
            col("n_chars").cast("long").as("n_chars")))
        reg.register(Model("docs_t", Seq("docs_src"), TableMat(),
          ctx => ctx.ref("docs_src"),
          postHooks = Seq(TableStats.sampleHook("doc_id", 64))))
        reg.run()
      }
      runWith(300L)
      runWith(500L)
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      wh.read("docs_t__aqp_sample")
        .groupBy("lang")
        .agg(first(col("aqp_n")).as("n"), first(col("aqp_k")).as("k"),
          count(lit(1)).as("m_g"), sum(col("n_chars")).as("chars_g"))
        .withColumn("est_docs", call_function("div",
          dec(col("n")) * dec(col("m_g")), dec(col("k"))).cast("long"))
        .withColumn("est_chars", call_function("div",
          dec(col("n")) * dec(col("chars_g")), dec(col("k"))).cast("long"))
        .select(col("lang"), col("n"), col("m_g"), col("est_docs"),
          col("est_chars"))
        .orderBy("lang")
    }, Some(
      """WITH samp AS (
        |  SELECT lang, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 64),
        |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
        |               (SELECT CAST(count(*) AS BIGINT) FROM samp) AS k)
        |SELECT g.lang, t.n, g.m_g,
        |       CAST((t.n * g.m_g) // t.k AS BIGINT) AS est_docs,
        |       CAST((t.n * g.chars_g) // t.k AS BIGINT) AS est_chars
        |FROM (SELECT lang, CAST(count(*) AS BIGINT) AS m_g,
        |             CAST(sum(n_chars) AS HUGEINT) AS chars_g
        |      FROM samp GROUP BY 1) g, tot t
        |ORDER BY 1""".stripMargin)),

    QueryDef("q521_aqp_sample_merge", (s, d) => {
      // O(batch + k) sample MAINTENANCE through storage — the KMV merge
      // law as a lifecycle: run 1 stores the bottom-256 sample of
      // pre-1997 orders; run 2 merges ONLY the 1997+ batch against the
      // 256 STORED rows (Sketches.uniformSampleMerge — never re-reads
      // the base, the law FunctionsSpec pins byte-identical to a full
      // rebuild) and swaps the refreshed sidecar in. The ask then
      // estimates total revenue from the merged sample; `matched`
      // compares the stored merged rows against an in-query full
      // rebuild over all 15 000 orders — 1 by the merge law, computed,
      // not asserted. At 100 TB this is the difference between sample
      // refresh costing O(day's batch) and O(corpus).
      import graft.functions.Sketches
      val wh = Scratch.warehouse("q521", d, s, Seq("ord_sample"))
      val ords = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        year(col("o_orderdate")).cast("long").as("oyear"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val pre = ords.filter(col("oyear") < 1997L).drop("oyear")
      val post = ords.filter(col("oyear") >= 1997L).drop("oyear")
      wh.writeSwap("ord_sample",
        Sketches.uniformSampleTable(pre, col("okey"), 256))
      wh.writeSwap("ord_sample", Sketches.uniformSampleMerge(
        wh.read("ord_sample"), post, col("okey"), 256))
      val merged = wh.read("ord_sample")
      val rebuilt = Sketches.uniformSampleTable(ords.drop("oyear"),
        col("okey"), 256)
      // optimization r15: one-pass multiset equality (Checks.multisetEqual
      // scaladoc) — the exceptAll diff ran the full in-query rebuild twice
      val matched = Checks.multisetEqual(
        merged.select("aqp_key", "okey", "cents", "aqp_n", "aqp_k"),
        rebuilt.select("aqp_key", "okey", "cents", "aqp_n", "aqp_k"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      merged
        .agg(first(col("aqp_n")).as("n"), first(col("aqp_k")).as("k"),
          sum(col("cents")).as("sum_s"))
        .withColumn("est_cents", call_function("div",
          dec(col("n")) * dec(col("sum_s")), dec(col("k"))).cast("long"))
        .withColumn("matched", lit(if (matched) 1L else 0L))
        .select(col("n"), col("k"), col("est_cents"), col("matched"))
    }, Some(
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |samp AS (SELECT cents FROM src ORDER BY md5(CAST(okey AS VARCHAR))
        |         LIMIT 256),
        |agg AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM src) AS n,
        |               CAST(count(*) AS BIGINT) AS k,
        |               CAST(sum(cents) AS HUGEINT) AS sum_s
        |        FROM samp)
        |SELECT n, k, CAST((n * sum_s) // k AS BIGINT) AS est_cents,
        |       CAST(1 AS BIGINT) AS matched
        |FROM agg""".stripMargin)),

    QueryDef("q522_stream_rollup_serve", (s, d) => {
      // STREAM-MAINTAINED rollup served by the REWRITE — the maintenance
      // matrix's third cell (q512 hook recompute, q514 AggregateMat
      // O(batch), now the stream): EventsStream.aggStream keeps
      // `ev__rollup_live` current per micro-batch (partials built by
      // Rollup.partials itself, sum-combined into storage — integer
      // cents, exact under ANY batch split), Rollup.declareSpec names it,
      // and a Registry model's ctx.aggRef then SERVES per-type totals
      // from the stream-written sidecar — the registry never scans the
      // events relation it is answering about (n_served pins the
      // decision; the plan reads the dim-tuple-grain table). Digits
      // equal the batch recompute over everything ingested because the
      // stream bridge is the exact mergeAggregates fold — the q496/q501
      // stream-feeds-the-planner discipline, now feeding the rewrite.
      import graft.engine.{Model, Registry, RefIn, Rollup, ViewMat}
      import graft.engine.Rollup.{Measure, Want}
      import graft.streaming.EventsStream
      val wh = Scratch.warehouse("q522", d, s, Seq(
        "ev__rollup_live", "ev__rollup_spec"))
      Scratch.resetCheckpoint(wh, "ev__rollup_live")
      val dims = Seq("etype", "uid_mod")
      val measures = Seq(Measure("sum", "cents"), Measure("count", "*"))
      def shape(df: org.apache.spark.sql.DataFrame) = df.select(
        col("event_type").as("etype"),
        (col("user_id") % 4L).as("uid_mod"),
        floor(col("value") * 100).cast("long").as("cents"))
      val q = EventsStream.aggStream(
        EventsStream.readEvents(s, d), wh, "ev__rollup_live", dims,
        Seq("sum_cents" -> "sum", "count_all" -> "sum")) { batch =>
        Rollup.partials(shape(batch), dims, measures)
      }
      q.awaitTermination()
      Rollup.declareSpec(s, wh, "ev", "live", dims, measures)
      val reg = new Registry(s, wh)
      reg.source("ev", shape(table(s, d, "events")))
      reg.register(Model("ask", Seq("ev"), ViewMat,
        ctx => ctx.aggRef("ev", Seq("etype"),
          Seq(Want("cents_total", "sum", "cents"),
            Want("n_events", "count", "*")),
          preds = Seq(RefIn("uid_mod", Seq(1L, 2L))))))
      reg.run()
      val served = reg.metadataOps.count(l =>
        l.startsWith("agg_ref ask:") && l.contains("SERVED"))
      reg.relation("ask")
        .withColumn("n_served", lit(served.toLong))
        .orderBy("etype")
    }, Some(
      """SELECT event_type AS etype,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |         AS cents_total,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(1 AS BIGINT) AS n_served
        |FROM events WHERE CAST(user_id AS BIGINT) % 4 IN (1, 2)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q523_versioned_dashboard_capstone", (s, d) => {
      // CONTINUATION CAPSTONE — the corpus-dashboard stack as ONE
      // declared DAG composing every surface this continuation added:
      // the corpus is a VersionedTableMat (two runs -> v1 the 300-doc
      // subset, v2 the full 500 — v1 stays pinned on disk for
      // reproducibility while every sidecar below describes v2), its
      // post-hooks maintain BOTH summary sidecars (rollupHook: by-lang
      // partials; sampleHook: the bottom-64 payload sample), and the
      // dashboard model answers per-lang with each side serving the
      // question it is FOR: n_docs/sum_chars through ctx.aggRef — the
      // DECLARED dims, served EXACTLY from the 5-row rollup (n_served
      // pins run 2's rewrite decision — metadataOps is per-registry
      // instance, so the count reads 1) — and long-doc counts (n_chars > 400, a
      // predicate nobody declared at build time) estimated from the
      // sample by closure under selection. The oracle replays the v2
      // corpus' rollup digits, the md5-bottom-64 sample, and both
      // estimates; current_version pins that the sidecars track the
      // LATEST materialization.
      import graft.engine.{Model, Registry, Rollup, TableStats,
        VersionedTableMat, ViewMat}
      import graft.engine.Rollup.{Measure, Want}
      val wh = Scratch.warehouse("q523", d, s, Seq(
        "corpus__rollup_by_lang", "corpus__rollup_spec",
        "corpus__aqp_sample"))
      wh.drop("corpus")
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      def runWith(maxId: Long): Registry = {
        val reg = new Registry(s, wh)
        reg.source("docs_src", table(s, d, "documents")
          .filter(col("doc_id") < maxId)
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
            col("n_chars").cast("long").as("n_chars")))
        reg.register(Model("corpus", Seq("docs_src"), VersionedTableMat(),
          ctx => ctx.ref("docs_src"),
          postHooks = Seq(
            Rollup.rollupHook("by_lang", Seq("lang"),
              Seq(Measure("sum", "n_chars"), Measure("count", "*"))),
            TableStats.sampleHook("doc_id", 64))))
        reg.register(Model("dashboard", Seq("corpus"), ViewMat,
          ctx => ctx.aggRef("corpus", Seq("lang"),
            Seq(Want("sum_chars", "sum", "n_chars"),
              Want("n_docs", "count", "*")))))
        reg
      }
      runWith(300L).run()
      val reg = runWith(500L)
      reg.run()
      val served = reg.metadataOps.count(l =>
        l.startsWith("agg_ref dashboard:") && l.contains("SERVED"))
      val longEst = wh.read("corpus__aqp_sample")
        .groupBy("lang")
        .agg(first(col("aqp_n")).as("n"), first(col("aqp_k")).as("k"),
          sum(when(col("n_chars") > 400L, 1L).otherwise(0L)).as("m_long"))
        .withColumn("est_long_docs", call_function("div",
          dec(col("n")) * dec(col("m_long")), dec(col("k"))).cast("long"))
        .select(col("lang"), col("est_long_docs"))
      reg.relation("dashboard")
        .join(longEst, Seq("lang"), "left")
        .na.fill(0L, Seq("est_long_docs"))
        .withColumn("n_served", lit(served.toLong))
        .withColumn("current_version", lit(wh.currentVersion("corpus")))
        .select("lang", "n_docs", "sum_chars", "est_long_docs",
          "n_served", "current_version")
        .orderBy("lang")
    }, Some(
      """WITH samp AS (
        |  SELECT lang, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 64),
        |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
        |               (SELECT CAST(count(*) AS BIGINT) FROM samp) AS k),
        |le AS (SELECT lang,
        |              CAST(count(*) FILTER (WHERE n_chars > 400) AS BIGINT)
        |                AS m_long
        |       FROM samp GROUP BY 1)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
        |       CAST(coalesce((SELECT (t.n * le.m_long) // t.k
        |                      FROM le, tot t WHERE le.lang = d.lang), 0)
        |            AS BIGINT) AS est_long_docs,
        |       CAST(1 AS BIGINT) AS n_served,
        |       CAST(2 AS BIGINT) AS current_version
        |FROM documents d GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
