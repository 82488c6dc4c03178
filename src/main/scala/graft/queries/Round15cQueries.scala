package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import graft.sources.Sources.table
import graft.engine.Checks
import graft.engine.Pin.PinOps

/** Round-15 continuation III: don't recompute what didn't change. Three
  * engine surfaces a 100 TB nightly pipeline needs from its materializer —
  * build avoidance from input signatures ([[graft.engine.Registry.enableReuse]]),
  * incremental JOIN-view maintenance by the bilinear delta rule
  * ([[graft.engine.JoinView]]), and verified-constraint semantic rewrites
  * (join/distinct elimination, [[graft.engine.Constraints]]) — each
  * oracle-gated, then composed in the q530 capstone.
  */
object Round15cQueries extends QuerySet {

  private val day = (c: Column) =>
    datediff(to_date(c), lit("1970-01-01").cast("date"))

  val all: Seq[QueryDef] = Seq(

    QueryDef("q524_build_reuse", (s, d) => {
      // BUILD AVOIDANCE — the cheapest 100 TB query plan is the one that
      // never runs (dbt slim-CI state:modified applied to the run itself,
      // bazel-style): every TableMat materialization records
      // md5(model fingerprint + each input's signature), where warehouse
      // deps sign from their parquet file LISTING (O(files) stat calls,
      // zero data reads — Warehouse.relationSignature) and external
      // sources carry a caller-declared batch signature. A later run
      // whose signatures all match SERVES the stored relation and skips
      // the build. Three-run lifecycle: run 2 (nothing changed) reuses
      // ALL THREE models — n_reused_run2 = 3; run 3 lands a new orders
      // batch (source signature bumped, rows widen to 1997) and
      // invalidation follows the DAG exactly: stg_o rebuilds (its input
      // changed), mart rebuilds (its dep stg_o's FILE LISTING changed —
      // the signature chain, not a declared edge list, carries the
      // invalidation), while stg_c REUSES untouched — n_reused_run3 = 1.
      // The mart digits replay the run-3 input; the oracle computes them
      // plus both pins.
      import graft.engine.{Model, Registry, TableMat}
      val wh = Scratch.warehouse("q524", d, s, Seq("stg_o", "stg_c", "mart"))
      def mkReg(oCut: String, oSig: String): Registry = {
        val reg = new Registry(s, wh).enableReuse()
        reg.source("src_o", table(s, d, "orders")
          .filter(col("o_orderdate") < lit(oCut).cast("timestamp"))
          .select(col("o_orderkey").cast("long").as("okey"),
            col("o_custkey").cast("long").as("ck"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")),
          oSig)
        reg.source("src_c", table(s, d, "customer")
          .select(col("c_custkey").cast("long").as("ck"),
            col("c_mktsegment").as("seg")), "cust_b1")
        reg.register(Model("stg_o", Seq("src_o"), TableMat(),
          ctx => ctx.ref("src_o")))
        reg.register(Model("stg_c", Seq("src_c"), TableMat(),
          ctx => ctx.ref("src_c")))
        reg.register(Model("mart", Seq("stg_o", "stg_c"), TableMat(),
          ctx => ctx.ref("stg_o").join(ctx.ref("stg_c"), Seq("ck"))
            .groupBy("seg").agg(sum("cents").as("cents_total"),
              count(lit(1)).as("n_orders"))))
        reg
      }
      def reuses(r: Registry): Long =
        r.metadataOps.count(_.startsWith("reuse ")).toLong
      mkReg("1996-01-01", "orders_b1").run()
      val r2 = mkReg("1996-01-01", "orders_b1"); r2.run()
      val r3 = mkReg("1997-01-01", "orders_b2"); r3.run()
      wh.read("mart")
        .withColumn("n_reused_run2", lit(reuses(r2)))
        .withColumn("n_reused_run3", lit(reuses(r3)))
        .orderBy("seg")
    }, Some(
      """SELECT c_mktsegment AS seg,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |            AS BIGINT) AS cents_total,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(3 AS BIGINT) AS n_reused_run2,
        |       CAST(1 AS BIGINT) AS n_reused_run3
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q525_join_ivm", (s, d) => {
      // INCREMENTAL JOIN-VIEW MAINTENANCE — the join face of the O(batch)
      // maintenance family (AggregateMat merges aggregate partials; this
      // maintains A ⋈ B itself, the DBSP/Materialize delta rule in the
      // engine's sidecar idiom): the `ov` model's build IS
      // JoinView.delta — run 1 (no cursors) materializes the full
      // pre-cutoff join (2001-01-01 — ~80% of the data); run 2 sees the
      // full tables and computes ONLY
      //   dA ⋈ B_new  ∪  A_old ⋈ dB
      // from the stored per-dep cursors (max epoch-day at last commit,
      // advanced by a post-hook AFTER the DML), landing through the I1
      // append sink — O(delta) compute and I/O, the view never
      // recomputed. n_delta2 pins the delta volume (the oracle derives
      // it as full-join rows where either side is post-cutoff);
      // `matched` compares the maintained view against an in-query full
      // recompute — computed, not asserted — and the oracle replays the
      // by-flag digits of the final view.
      import graft.engine.{Incremental, IncrementalMat, JoinView, Model,
        Registry}
      val wh = Scratch.warehouse("q525", d, s, Seq("ivm_o", "ivm_l", "ov"))
      val cutDay = datediff(lit("2001-01-01").cast("date"),
        lit("1970-01-01").cast("date"))
      val oAll = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        day(col("o_orderdate")).as("o_day"))
      val lAll = table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("okey"),
        col("l_linenumber").cast("long").as("lineno"),
        day(col("l_shipdate")).as("ship_day"),
        col("l_returnflag").as("rflag"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100
          + 0.5).cast("long").as("rev_cents"))
      def reg(): Registry = {
        val r = new Registry(s, wh)
        r.register(Model("ov", Seq("ivm_o", "ivm_l"),
          IncrementalMat(Incremental.Append, Nil),
          ctx => JoinView.delta(wh, "ov",
            "ivm_o", ctx.ref("ivm_o"), "o_day",
            "ivm_l", ctx.ref("ivm_l"), "ship_day", Seq("okey")),
          postHooks = Seq(JoinView.cursorHook(
            Seq("ivm_o" -> "o_day", "ivm_l" -> "ship_day")))))
        r
      }
      wh.writeSwap("ivm_o", oAll.filter(col("o_day") < cutDay))
      wh.writeSwap("ivm_l", lAll.filter(col("ship_day") < cutDay))
      reg().run()
      val n1 = wh.read("ov").count()
      wh.writeSwap("ivm_o", oAll)
      wh.writeSwap("ivm_l", lAll)
      reg().run()
      val stored = wh.read("ov")
      val n2 = stored.count()
      // optimization r15: one-pass multiset equality (Checks.multisetEqual
      // scaladoc) — the two-sided exceptAll diff computed the recompute
      // join twice and rescanned the stored view twice
      val matched = Checks.multisetEqual(stored, oAll.join(lAll, Seq("okey")))
      stored.groupBy("rflag")
        .agg(count(lit(1)).as("n_rows"), sum("rev_cents").as("rev_total"))
        .withColumn("n_delta2", lit(n2 - n1))
        .withColumn("matched", lit(if (matched) 1L else 0L))
        .orderBy("rflag")
    }, Some(
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |                  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |                       AS BIGINT) AS o_day
        |           FROM orders),
        |l AS (SELECT CAST(l_orderkey AS BIGINT) AS okey,
        |             l_returnflag AS rflag,
        |             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
        |                  AS BIGINT) AS ship_day,
        |             CAST(floor(l_extendedprice * (1 - l_discount) * 100
        |                        + 0.5) AS BIGINT) AS rev_cents
        |      FROM lineitem),
        |j AS (SELECT * FROM o JOIN l USING (okey)),
        |cutd AS (SELECT CAST(DATE '2001-01-01' - DATE '1970-01-01'
        |                     AS BIGINT) AS c),
        |delta AS (SELECT CAST(count(*) AS BIGINT) AS n_delta2
        |          FROM j, cutd WHERE o_day >= c OR ship_day >= c)
        |SELECT rflag, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(rev_cents) AS BIGINT) AS rev_total,
        |       (SELECT n_delta2 FROM delta) AS n_delta2,
        |       CAST(1 AS BIGINT) AS matched
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q526_ivm_bilinear", (s, d) => {
      // THE BILINEAR TERM — why the delta rule is dA ⋈ B_new ∪ A_old ⋈ dB
      // and not the symmetric-looking dA ⋈ B_new ∪ A_new ⋈ dB: new rows
      // joining new rows (an order and its lineitems arriving in the
      // same batch — the COMMON case in an event pipeline) sit in
      // dA ⋈ dB, which the naive form counts TWICE. Engine-level
      // demonstration on the real cursor machinery: commit cursors over
      // the pre-cutoff state, swap in the full tables, and take
      // JoinView.delta — n_exact is the engine's delta, n_naive the
      // double-counting form computed beside it, and their difference
      // is EXACTLY |dA ⋈ dB| (n_overlap — the oracle derives all three
      // from the cutoff algebra). `matched` pins old-view ∪ delta ==
      // full join, the maintenance invariant itself.
      import graft.engine.JoinView
      val wh = Scratch.warehouse("q526", d, s, Seq("bi_o", "bi_l", "bv_old"))
      wh.removeMeta("bv__ivm")
      val cutDay = datediff(lit("2001-01-01").cast("date"),
        lit("1970-01-01").cast("date"))
      val oAll = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        day(col("o_orderdate")).as("o_day"))
      val lAll = table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("okey"),
        col("l_linenumber").cast("long").as("lineno"),
        day(col("l_shipdate")).as("ship_day"))
      wh.writeSwap("bi_o", oAll.filter(col("o_day") < cutDay))
      wh.writeSwap("bi_l", lAll.filter(col("ship_day") < cutDay))
      JoinView.commitCursors(wh, "bv",
        Seq("bi_o" -> "o_day", "bi_l" -> "ship_day"))
      // persist the old view BEFORE the swap: a lazy plan over bi_o's old
      // file index would die when writeSwap replaces the directory
      wh.writeSwap("bv_old", wh.read("bi_o").join(wh.read("bi_l"), Seq("okey")))
      val oldView = wh.read("bv_old")
      wh.writeSwap("bi_o", oAll)
      wh.writeSwap("bi_l", lAll)
      // optimization r15 (guide §1.2): the delta plan fed THREE jobs
      // (n_exact, the maintained union's two exceptAll passes) — pin it
      // once; it is delta-sized by construction
      val delta = JoinView.delta(wh, "bv",
        "bi_o", wh.read("bi_o"), "o_day",
        "bi_l", wh.read("bi_l"), "ship_day", Seq("okey"))
        .pinLazy()
      val cur = JoinView.cursors(wh, "bv").get
      val (ca, cb) = (cur("bi_o"), cur("bi_l"))
      val nExact = delta.count()
      // the naive/bilinear contrast counts are the cutoff algebra over the
      // full join (dA ⋈ B ≡ full-join rows with o_day > ca, since dA is a
      // pure filter of the stored A and both joins share the okey key —
      // the exact identity the oracle replays). Computing them as ONE
      // filtered-count pass over a pinned full join replaces three
      // standalone joins (optimization r15; values digit-identical).
      val full = oAll.join(lAll, Seq("okey")).pinLazy()
      val contrast = full.agg(
        sum(when(col("o_day") > ca, 1L).otherwise(0L)).as("na"),
        sum(when(col("ship_day") > cb, 1L).otherwise(0L)).as("nb"),
        sum(when(col("o_day") > ca && col("ship_day") > cb, 1L)
          .otherwise(0L)).as("nab")).head()
      val nNaive = contrast.getLong(0) + contrast.getLong(1)
      val nOverlap = contrast.getLong(2)
      val maintained = oldView.unionByName(delta)
      val matched = Checks.multisetEqual(maintained, full)
      import s.implicits._
      Seq(1).toDF("one").select(
        lit(nExact).as("n_exact"),
        lit(nNaive).as("n_naive"),
        lit(nNaive - nExact).as("n_double_counted"),
        lit(nOverlap).as("n_bilinear"),
        lit(if (matched) 1L else 0L).as("matched"))
    }, Some(
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |                  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |                       AS BIGINT) AS o_day
        |           FROM orders),
        |l AS (SELECT CAST(l_orderkey AS BIGINT) AS okey,
        |             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
        |                  AS BIGINT) AS ship_day
        |      FROM lineitem),
        |c0 AS (SELECT CAST(DATE '2001-01-01' - DATE '1970-01-01'
        |                   AS BIGINT) AS c),
        |cutd AS (SELECT
        |           (SELECT CAST(max(o_day) AS BIGINT) FROM o
        |            WHERE o_day < (SELECT c FROM c0)) AS ca,
        |           (SELECT CAST(max(ship_day) AS BIGINT) FROM l
        |            WHERE ship_day < (SELECT c FROM c0)) AS cb),
        |j AS (SELECT o_day, ship_day FROM o JOIN l USING (okey)),
        |m AS (SELECT
        |        count(*) FILTER (WHERE o_day > ca OR ship_day > cb)
        |          AS n_exact,
        |        count(*) FILTER (WHERE o_day > ca) +
        |          count(*) FILTER (WHERE ship_day > cb) AS n_naive,
        |        count(*) FILTER (WHERE o_day > ca AND ship_day > cb)
        |          AS n_bilinear
        |      FROM j, cutd)
        |SELECT CAST(n_exact AS BIGINT) AS n_exact,
        |       CAST(n_naive AS BIGINT) AS n_naive,
        |       CAST(n_naive - n_exact AS BIGINT) AS n_double_counted,
        |       CAST(n_bilinear AS BIGINT) AS n_bilinear,
        |       CAST(1 AS BIGINT) AS matched
        |FROM m""".stripMargin)),

    QueryDef("q527_join_elimination", (s, d) => {
      // JOIN ELIMINATION from a VERIFIED key constraint (Paulley-style
      // semantic optimization as a declared Registry surface): dim_c
      // declares key(ck) as a post-hook — one exact verification scan,
      // the A1 unique test the reference already runs, recorded bound to
      // the dim's storage signature — and the ask model's
      // ctx.lookupJoin(fact, dim, left, need = fact columns) consults
      // the sidecar at plan time: constraint current + no dim column
      // consumed => the join is DROPPED and the plan is the fact scan
      // alone (at 100 TB the only join cheaper than a broadcast join).
      // ask2 hits the refusal path — dim_nc carries no verified key, so
      // the real join runs (n_kept pins it; stale-or-absent knowledge
      // costs a join, never a row). `matched` compares the eliminated
      // result against the REAL left join computed beside it.
      import graft.engine.{Constraints, Model, Registry, TableMat, ViewMat}
      val wh = Scratch.warehouse("q527", d, s, Seq("fact_o", "dim_c", "dim_nc"))
      val reg = new Registry(s, wh)
      reg.source("src_o", table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        col("o_custkey").cast("long").as("ck"),
        col("o_orderpriority").as("priority"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")))
      reg.source("src_c", table(s, d, "customer").select(
        col("c_custkey").cast("long").as("ck"), col("c_mktsegment").as("seg")))
      reg.register(Model("dim_c", Seq("src_c"), TableMat(),
        ctx => ctx.ref("src_c"),
        postHooks = Seq(Constraints.keyHook(Seq("ck")))))
      reg.register(Model("dim_nc", Seq("src_c"), TableMat(),
        ctx => ctx.ref("src_c")))
      reg.register(Model("fact_o", Seq("src_o"), TableMat(),
        ctx => ctx.ref("src_o")))
      reg.register(Model("ask", Seq("fact_o", "dim_c"), ViewMat,
        ctx => ctx.lookupJoin("fact_o", "dim_c", Seq("ck"),
          Seq("priority", "cents"), "left")
          .groupBy("priority")
          .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents_total"))))
      reg.register(Model("ask2", Seq("fact_o", "dim_nc"), ViewMat,
        ctx => ctx.lookupJoin("fact_o", "dim_nc", Seq("ck"),
          Seq("priority", "cents"), "left")
          .groupBy("priority")
          .agg(count(lit(1)).as("n_orders2"))))
      reg.run()
      val nElim = reg.metadataOps.count(l =>
        l.startsWith("lookup_join") && l.contains("ELIMINATED")).toLong
      val nKept = reg.metadataOps.count(l =>
        l.startsWith("lookup_join") && l.contains("kept")).toLong
      val real = wh.read("fact_o").join(wh.read("dim_c"), Seq("ck"), "left")
        .groupBy("priority")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents_total"))
      val served = reg.relation("ask")
      // optimization r15: one-pass multiset equality (Checks.multisetEqual
      // scaladoc) — the exceptAll diff evaluated both rollups twice
      val matched = Checks.multisetEqual(served, real)
      served
        .join(reg.relation("ask2"), Seq("priority"))
        .withColumn("n_eliminated", lit(nElim))
        .withColumn("n_kept", lit(nKept))
        .withColumn("matched", lit(if (matched) 1L else 0L))
        .orderBy("priority")
    }, Some(
      """SELECT o_orderpriority AS priority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |            AS BIGINT) AS cents_total,
        |       CAST(count(*) AS BIGINT) AS n_orders2,
        |       CAST(1 AS BIGINT) AS n_eliminated,
        |       CAST(1 AS BIGINT) AS n_kept,
        |       CAST(1 AS BIGINT) AS matched
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q528_fk_inner_elimination", (s, d) => {
      // INNER-join elimination needs MORE than a unique dim key: an inner
      // join also DROPS fact rows whose key is NULL or orphaned, so the
      // rewrite additionally requires verified TOTAL participation
      // (fk_total — the dbt `relationships` test strengthened by
      // not-null, verified on the fact's post-hook at key grain and
      // recorded bound to BOTH sides' storage signatures). ask1: key +
      // fk_total verified => the inner lookup to dim_c is eliminated and
      // n_ask1 equals the fact count. ask2: dim_sub keeps only customers
      // with ck <= 300 — its key constraint still holds, but no fk_total
      // exists from the fact, so the engine REFUSES and runs the real
      // inner join, which correctly drops the orphaned orders (n_ask2 <
      // n_fact — the row the rewrite would have gotten wrong, which is
      // exactly why it refused). The oracle replays both counts.
      import graft.engine.{Constraints, Model, Registry, TableMat, ViewMat}
      val wh = Scratch.warehouse("q528", d, s, Seq("fact_o", "dim_c", "dim_sub"))
      val reg = new Registry(s, wh)
      reg.source("src_o", table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        col("o_custkey").cast("long").as("ck"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")))
      reg.source("src_c", table(s, d, "customer").select(
        col("c_custkey").cast("long").as("ck"), col("c_mktsegment").as("seg")))
      reg.register(Model("dim_c", Seq("src_c"), TableMat(),
        ctx => ctx.ref("src_c"),
        postHooks = Seq(Constraints.keyHook(Seq("ck")))))
      reg.register(Model("dim_sub", Seq("src_c"), TableMat(),
        ctx => ctx.ref("src_c").filter(col("ck") <= 300L),
        postHooks = Seq(Constraints.keyHook(Seq("ck")))))
      reg.register(Model("fact_o", Seq("src_o", "dim_c"), TableMat(),
        ctx => ctx.ref("src_o"),
        postHooks = Seq(Constraints.fkHook(Seq("ck"), "dim_c"))))
      reg.register(Model("ask1", Seq("fact_o", "dim_c"), ViewMat,
        ctx => ctx.lookupJoin("fact_o", "dim_c", Seq("ck"),
          Seq("okey", "cents"), "inner")))
      reg.register(Model("ask2", Seq("fact_o", "dim_sub"), ViewMat,
        ctx => ctx.lookupJoin("fact_o", "dim_sub", Seq("ck"),
          Seq("okey", "cents"), "inner")))
      reg.run()
      val nElim = reg.metadataOps.count(l =>
        l.startsWith("lookup_join") && l.contains("ELIMINATED")).toLong
      val nKept = reg.metadataOps.count(l =>
        l.startsWith("lookup_join") && l.contains("kept")).toLong
      import s.implicits._
      Seq(1).toDF("one").select(
        lit(wh.read("fact_o").count()).as("n_fact"),
        lit(reg.relation("ask1").count()).as("n_ask1"),
        lit(reg.relation("ask2").count()).as("n_ask2"),
        lit(nElim).as("n_eliminated"),
        lit(nKept).as("n_kept"))
    }, Some(
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_fact,
        |       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_ask1,
        |       (SELECT CAST(count(*) AS BIGINT) FROM orders
        |        WHERE o_custkey <= 300) AS n_ask2,
        |       CAST(1 AS BIGINT) AS n_eliminated,
        |       CAST(1 AS BIGINT) AS n_kept""".stripMargin)),

    QueryDef("q529_distinct_elimination", (s, d) => {
      // DISTINCT elimination + the SIGNATURE-CURRENCY soundness story:
      // run 1 verifies key(ck) on the dim and ctx.distinctRef(dim, ck,
      // name) provably needs no shuffle — the rows are already distinct,
      // the distinct is DROPPED (n_elim_ops pins it). Then a row with a
      // DUPLICATE key is appended OUT-OF-BAND (no registry, no hooks —
      // the adversarial writer every metadata system must survive): the
      // constraint sidecar still says "key", but it is bound to the
      // OLD storage signature, and the file listing changed — so run
      // 2's consultation silently downgrades to "not verified" and PAYS
      // the real distinct, which correctly collapses the duplicate
      // (n_run2 == n_run1; the eliminated path would have returned 1501
      // rows). Stale knowledge costs a shuffle, never a wrong row.
      import graft.engine.{Constraints, Model, Registry, TableMat, ViewMat}
      val wh = Scratch.warehouse("q529", d, s, Seq("dim"))
      val reg = new Registry(s, wh)
      reg.source("src_c", table(s, d, "customer").select(
        col("c_custkey").cast("long").as("ck"),
        col("c_name").as("name")))
      reg.register(Model("dim", Seq("src_c"), TableMat(),
        ctx => ctx.ref("src_c"),
        postHooks = Seq(Constraints.keyHook(Seq("ck")))))
      reg.register(Model("ask", Seq("dim"), ViewMat,
        ctx => ctx.distinctRef("dim", Seq("ck", "name"))))
      reg.run()
      val n1 = reg.relation("ask").count()
      // out-of-band duplicate: first customer appended again
      wh.append("dim", wh.read("dim").orderBy("ck").limit(1))
      val reg2 = new Registry(s, wh)
      reg2.register(Model("ask", Seq("dim"), ViewMat,
        ctx => ctx.distinctRef("dim", Seq("ck", "name"))))
      reg2.run()
      val n2 = reg2.relation("ask").count()
      def ops(r: Registry, tag: String): Long =
        r.metadataOps.count(l => l.startsWith("distinct_ref") &&
          l.contains(tag)).toLong
      import s.implicits._
      Seq(1).toDF("one").select(
        lit(n1).as("n_run1"), lit(n2).as("n_run2"),
        lit(ops(reg, "ELIMINATED")).as("n_elim_ops"),
        lit(ops(reg2, "kept")).as("n_kept_ops"))
    }, Some(
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_run1,
        |       (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_run2,
        |       CAST(1 AS BIGINT) AS n_elim_ops,
        |       CAST(1 AS BIGINT) AS n_kept_ops""".stripMargin)),

    QueryDef("q530_incremental_stack_capstone", (s, d) => {
      // CONTINUATION-III CAPSTONE — the three don't-recompute surfaces
      // composed in one nightly DAG, each doing the job it is FOR:
      // run 2 lands a new batch (orders/lineitem signatures bump to
      // "b2", customer stays "b1") and (1) dim_c REUSES by build
      // signature — n_reused_run2 = 1 — which ALSO keeps its run-1 key
      // constraint current (reuse preserves the file listing the
      // constraint is bound to: the surfaces compose, not just coexist);
      // (2) the ov join view absorbs the batch through the bilinear
      // delta rule + append sink — O(delta), n_delta2 pinned by the
      // oracle's cutoff algebra; (3) the dashboard's left lookup join
      // to dim_c is ELIMINATED against the still-current constraint —
      // the nightly dashboard plan is one scan of the view's delta-
      // maintained partials and zero joins. `matched` pins the
      // maintained view against a full recompute; digits replay from
      // the full inputs.
      import graft.engine.{Constraints, Incremental, IncrementalMat,
        JoinView, Model, Registry, TableMat, ViewMat}
      val wh = Scratch.warehouse("q530", d, s, Seq(
        "dim_c", "stg_o", "stg_l", "ov"))
      val cut = lit("2001-01-01").cast("timestamp")
      def mkReg(full: Boolean): Registry = {
        val sig = if (full) "b2" else "b1"
        val reg = new Registry(s, wh).enableReuse()
        val oSrc = table(s, d, "orders")
          .filter(if (full) lit(true) else col("o_orderdate") < cut)
          .select(col("o_orderkey").cast("long").as("okey"),
            col("o_custkey").cast("long").as("ck"),
            day(col("o_orderdate")).as("o_day"))
        val lSrc = table(s, d, "lineitem")
          .filter(if (full) lit(true) else col("l_shipdate") < cut)
          .select(col("l_orderkey").cast("long").as("okey"),
            col("l_linenumber").cast("long").as("lineno"),
            day(col("l_shipdate")).as("ship_day"),
            col("l_returnflag").as("rflag"),
            floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * 100 + 0.5).cast("long").as("rev_cents"))
        reg.source("src_o", oSrc, s"orders_$sig")
        reg.source("src_l", lSrc, s"lineitem_$sig")
        reg.source("src_c", table(s, d, "customer").select(
          col("c_custkey").cast("long").as("ck"),
          col("c_mktsegment").as("seg")), "cust_b1")
        reg.register(Model("dim_c", Seq("src_c"), TableMat(),
          ctx => ctx.ref("src_c"),
          postHooks = Seq(Constraints.keyHook(Seq("ck")))))
        reg.register(Model("stg_o", Seq("src_o"), TableMat(),
          ctx => ctx.ref("src_o")))
        reg.register(Model("stg_l", Seq("src_l"), TableMat(),
          ctx => ctx.ref("src_l")))
        reg.register(Model("ov", Seq("stg_o", "stg_l"),
          IncrementalMat(Incremental.Append, Nil),
          ctx => JoinView.delta(wh, "ov",
            "stg_o", ctx.ref("stg_o"), "o_day",
            "stg_l", ctx.ref("stg_l"), "ship_day", Seq("okey")),
          postHooks = Seq(JoinView.cursorHook(
            Seq("stg_o" -> "o_day", "stg_l" -> "ship_day")))))
        reg.register(Model("dash", Seq("ov", "dim_c"), ViewMat,
          ctx => ctx.lookupJoin("ov", "dim_c", Seq("ck"),
            Seq("rflag", "rev_cents"), "left")
            .groupBy("rflag")
            .agg(count(lit(1)).as("n_rows"),
              sum("rev_cents").as("rev_total"))))
        reg
      }
      mkReg(full = false).run()
      val n1 = wh.read("ov").count()
      val r2 = mkReg(full = true); r2.run()
      val n2 = wh.read("ov").count()
      val nReuse = r2.metadataOps.count(_.startsWith("reuse ")).toLong
      val nElim = r2.metadataOps.count(l =>
        l.startsWith("lookup_join") && l.contains("ELIMINATED")).toLong
      // optimization r15: one-pass multiset equality (Checks.multisetEqual
      // scaladoc) instead of the two-sided exceptAll diff that computed
      // the recompute join twice
      val matched = Checks.multisetEqual(wh.read("ov"),
        wh.read("stg_o").join(wh.read("stg_l"), Seq("okey")))
      r2.relation("dash")
        .withColumn("n_reused_run2", lit(nReuse))
        .withColumn("n_delta2", lit(n2 - n1))
        .withColumn("n_eliminated_run2", lit(nElim))
        .withColumn("matched", lit(if (matched) 1L else 0L))
        .orderBy("rflag")
    }, Some(
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |                  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |                       AS BIGINT) AS o_day
        |           FROM orders),
        |l AS (SELECT CAST(l_orderkey AS BIGINT) AS okey,
        |             l_returnflag AS rflag,
        |             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
        |                  AS BIGINT) AS ship_day,
        |             CAST(floor(l_extendedprice * (1 - l_discount) * 100
        |                        + 0.5) AS BIGINT) AS rev_cents
        |      FROM lineitem),
        |j AS (SELECT * FROM o JOIN l USING (okey)),
        |cutd AS (SELECT CAST(DATE '2001-01-01' - DATE '1970-01-01'
        |                     AS BIGINT) AS c),
        |delta AS (SELECT CAST(count(*) AS BIGINT) AS n_delta2
        |          FROM j, cutd WHERE o_day >= c OR ship_day >= c)
        |SELECT rflag, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(rev_cents) AS BIGINT) AS rev_total,
        |       CAST(1 AS BIGINT) AS n_reused_run2,
        |       (SELECT n_delta2 FROM delta) AS n_delta2,
        |       CAST(1 AS BIGINT) AS n_eliminated_run2,
        |       CAST(1 AS BIGINT) AS matched
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q531_agg_over_join_ivm", (s, d) => {
      // AGGREGATE-OVER-JOIN maintained at O(Δ) WITHOUT ever materializing
      // the join — JoinView.delta composed with the AggregateMat merge
      // sink: the model's build is `partials(delta(A ⋈ B))`, so run 1
      // stores the 3-row by-flag rollup of the full pre-cutoff join and
      // run 2 computes only the delta's partials and SUM-MERGES them into
      // storage (sums and counts are monoids over the append-only delta —
      // the same algebra aggStream rides). The 60 000-row join exists
      // only as a transient plan; durable state is 3 rollup rows + 2
      // cursor lines. At 100 TB this is the difference between "maintain
      // the enriched fact table then aggregate it" and "maintain the
      // dashboard itself". `matched` pins stored == a direct aggregate
      // over the full recomputed join; n_state_rows pins the O(dims)
      // stored footprint.
      import graft.engine.{AggregateMat, JoinView, Model, Registry, Rollup}
      import graft.engine.Rollup.Measure
      val wh = Scratch.warehouse("q531", d, s, Seq("sa", "sl", "jr"))
      val cutDay = datediff(lit("2001-01-01").cast("date"),
        lit("1970-01-01").cast("date"))
      val oAll = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        day(col("o_orderdate")).as("o_day"))
      val lAll = table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("okey"),
        col("l_linenumber").cast("long").as("lineno"),
        day(col("l_shipdate")).as("ship_day"),
        col("l_returnflag").as("rflag"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100
          + 0.5).cast("long").as("rev_cents"))
      def reg(): Registry = {
        val r = new Registry(s, wh)
        r.register(Model("jr", Seq("sa", "sl"),
          AggregateMat(Seq("rflag"),
            Seq("sum_rev_cents" -> "sum", "count_all" -> "sum")),
          ctx => Rollup.partials(
            JoinView.delta(wh, "jr", "sa", ctx.ref("sa"), "o_day",
              "sl", ctx.ref("sl"), "ship_day", Seq("okey")),
            Seq("rflag"),
            Seq(Measure("sum", "rev_cents"), Measure("count", "*"))),
          postHooks = Seq(JoinView.cursorHook(
            Seq("sa" -> "o_day", "sl" -> "ship_day")))))
        r
      }
      wh.writeSwap("sa", oAll.filter(col("o_day") < cutDay))
      wh.writeSwap("sl", lAll.filter(col("ship_day") < cutDay))
      reg().run()
      wh.writeSwap("sa", oAll)
      wh.writeSwap("sl", lAll)
      reg().run()
      val stored = wh.read("jr")
      val direct = oAll.join(lAll, Seq("okey")).groupBy("rflag")
        .agg(sum("rev_cents").as("sum_rev_cents"),
          count(lit(1)).as("count_all"))
      // optimization r15: one-pass multiset equality (Checks.multisetEqual
      // scaladoc) — the exceptAll diff ran the direct join+rollup twice
      val matched = Checks.multisetEqual(stored, direct)
      stored
        .select(col("rflag"), col("sum_rev_cents").as("rev_total"),
          col("count_all").as("n_rows"))
        .withColumn("n_state_rows", lit(stored.count()))
        .withColumn("matched", lit(if (matched) 1L else 0L))
        .orderBy("rflag")
    }, Some(
      """SELECT l_returnflag AS rflag,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
        |                          + 0.5) AS BIGINT)) AS BIGINT) AS rev_total,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(3 AS BIGINT) AS n_state_rows,
        |       CAST(1 AS BIGINT) AS matched
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q532_eager_aggregation", (s, d) => {
      // EAGER AGGREGATION (Yan & Larson, VLDB '95) composed from the
      // rollup machinery itself: an aggregate over fact ⋈ dim grouping
      // on DIM attributes pre-aggregates the fact by its JOIN KEY first
      // — what crosses the join is one partial row per distinct key
      // (15 000 partials here) instead of every fact row (60 000; at
      // 100 TB, billions), and the partial aggregation is map-side
      // combinable before the exchange. Correctness needs NO uniqueness
      // assumption: a key matching m dim rows contributes its partial m
      // times on both plans — branch 2 pins exactly that with a
      // deliberately NON-unique dim (two contact rows per order), where
      // counts double on both the eager and the naive plan. matched /
      // matched_nonuniq compare eager vs naive digit-for-digit; the
      // oracle replays the naive plans.
      import graft.engine.Rollup
      import graft.engine.Rollup.Want
      val li = table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("okey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100
          + 0.5).cast("long").as("rev_cents"))
      val ord = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        col("o_orderpriority").as("priority"))
      val wants = Seq(Want("rev_total", "sum", "rev_cents"),
        Want("n_rows", "count", "*"))
      // optimization r15 (guide §1.2): each rollup is a 5-row aggregate
      // whose JOIN+AGG lineage the two-sided exceptAll diffs and the
      // final readout re-evaluated up to three times — pin each once
      // (priority-grain, 5 rows) and test equality with the one-pass
      // rollup (Checks.multisetEqual scaladoc): 10 join+agg jobs -> 4.
      val eager = Rollup.eagerAgg(li, ord, Seq("okey"), Seq("priority"),
        wants).pinLazy()
      val naive = Rollup.direct(li.join(ord, Seq("okey")), Seq("priority"),
        wants, Nil).pinLazy()
      val matched1 = Checks.multisetEqual(eager, naive)
      // branch 2: a non-unique dim — every order has TWO contact rows
      import s.implicits._
      val contacts = ord.crossJoin(Seq(1L, 2L).toDF("contact_no"))
      val eager2 = Rollup.eagerAgg(li, contacts, Seq("okey"),
        Seq("priority"), wants).pinLazy()
      val naive2 = Rollup.direct(li.join(contacts, Seq("okey")),
        Seq("priority"), wants, Nil).pinLazy()
      val matched2 = Checks.multisetEqual(eager2, naive2)
      eager
        .join(eager2.select(col("priority"),
          col("rev_total").as("rev_total_x2"),
          col("n_rows").as("n_rows_x2")), Seq("priority"))
        .withColumn("matched", lit(if (matched1) 1L else 0L))
        .withColumn("matched_nonuniq", lit(if (matched2) 1L else 0L))
        .orderBy("priority")
    }, Some(
      """WITH j AS (
        |  SELECT o_orderpriority AS priority,
        |         CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
        |              AS BIGINT) AS rev_cents
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT priority,
        |       CAST(sum(rev_cents) AS BIGINT) AS rev_total,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(2 * sum(rev_cents) AS BIGINT) AS rev_total_x2,
        |       CAST(2 * count(*) AS BIGINT) AS n_rows_x2,
        |       CAST(1 AS BIGINT) AS matched,
        |       CAST(1 AS BIGINT) AS matched_nonuniq
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q533_verify_key_append", (s, d) => {
      // O(batch) CONSTRAINT-PRESERVING APPEND — the piece that keeps
      // verified knowledge ALIVE on a growing table (q529 showed an
      // out-of-band append killing elimination; the full re-verification
      // that would restore it rescans the table — the cost that makes
      // teams stop verifying at 100 TB). verifyKeyAppend re-proves the
      // key for the cost of the BATCH: batch-internal uniqueness +
      // non-null in one aggregate, no-clash-with-stored as a key-grain
      // left-semi (the lookup shape the bloom/stats sidecars prune),
      // then append + re-record against the post-append listing. The
      // payoff is pinned downstream: the registry's lookup join to the
      // grown dim is STILL eliminated — constraint current, zero
      // rescans. Digits replay the full 1500-customer dim.
      import graft.engine.{Constraints, Model, Registry, TableMat, ViewMat}
      val wh = Scratch.warehouse("q533", d, s, Seq("dim", "fact_o"))
      val custAll = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("ck"),
        col("c_mktsegment").as("seg"))
      wh.writeSwap("dim", custAll.filter(col("ck") <= 1200L))
      Constraints.verifyKey(wh, "dim", Seq("ck"))
      Constraints.verifyKeyAppend(wh, "dim", Seq("ck"),
        custAll.filter(col("ck") > 1200L))
      val reg = new Registry(s, wh)
      reg.source("src_o", table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        col("o_custkey").cast("long").as("ck"),
        col("o_orderpriority").as("priority"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")))
      reg.register(Model("fact_o", Seq("src_o"), TableMat(),
        ctx => ctx.ref("src_o")))
      reg.register(Model("ask", Seq("fact_o", "dim"), ViewMat,
        ctx => ctx.lookupJoin("fact_o", "dim", Seq("ck"),
          Seq("priority", "cents"), "left")
          .groupBy("priority")
          .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents_total"))))
      reg.run()
      val nElim = reg.metadataOps.count(l =>
        l.startsWith("lookup_join") && l.contains("ELIMINATED")).toLong
      reg.relation("ask")
        .withColumn("n_dim", lit(wh.read("dim").count()))
        .withColumn("n_eliminated", lit(nElim))
        .orderBy("priority")
    }, Some(
      """SELECT o_orderpriority AS priority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |            AS BIGINT) AS cents_total,
        |       (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_dim,
        |       CAST(1 AS BIGINT) AS n_eliminated
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q534_versioned_reuse", (s, d) => {
      // BUILD REUSE × VERSIONED TABLES — the reproducibility composition:
      // a VersionedTableMat nightly whose inputs didn't change must NOT
      // mint a new version (versions are content identities, and "same
      // inputs, same definition" IS the same content — run 2 serves the
      // current version, version count stays 1), while a real new batch
      // mints v2 and v1 STAYS pinned on disk for training-run
      // reproducibility. current_version / n_versions / n_reused_run2 /
      // v1_rows pin all four facts; digits replay the v2 corpus by lang.
      import graft.engine.{Model, Registry, VersionedTableMat}
      val wh = Scratch.warehouse("q534", d, s, Nil)
      wh.drop("corp")
      def mk(maxId: Long, sig: String): Registry = {
        val reg = new Registry(s, wh).enableReuse()
        reg.source("docs_src", table(s, d, "documents")
          .filter(col("doc_id") < maxId)
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
            col("n_chars").cast("long").as("n_chars")), sig)
        reg.register(Model("corp", Seq("docs_src"), VersionedTableMat(),
          ctx => ctx.ref("docs_src")))
        reg
      }
      mk(300L, "b1").run()
      val r2 = mk(300L, "b1"); r2.run()
      val nReuse2 = r2.metadataOps.count(_.startsWith("reuse ")).toLong
      val nVersionsAfter2 = wh.versionsOf("corp").size.toLong
      mk(500L, "b2").run()
      wh.readVersioned("corp").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .withColumn("n_reused_run2", lit(nReuse2))
        .withColumn("n_versions_after_run2", lit(nVersionsAfter2))
        .withColumn("n_versions", lit(wh.versionsOf("corp").size.toLong))
        .withColumn("current_version", lit(wh.currentVersion("corp")))
        .withColumn("v1_rows", lit(wh.readVersioned("corp", 1L).count()))
        .orderBy("lang")
    }, Some(
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(1 AS BIGINT) AS n_reused_run2,
        |       CAST(1 AS BIGINT) AS n_versions_after_run2,
        |       CAST(2 AS BIGINT) AS n_versions,
        |       CAST(2 AS BIGINT) AS current_version,
        |       (SELECT CAST(count(*) AS BIGINT) FROM documents
        |        WHERE doc_id < 300) AS v1_rows
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q535_stratified_aqp", (s, d) => {
      // STRATIFIED stored sample (Sketches.stratifiedSampleTable — the
      // BlinkDB observation in the md5-bottom-k idiom: q523's single
      // uniform sample gives a 5%-share language ~5% of the budget;
      // per-stratum bottom-k gives EVERY language its own 64 rows and
      // its own exact aqp_n, so per-group estimates carry per-group
      // error). Plan shape: the per-stratum top-k rides the k-bounded
      // BottomKPairs aggregate — register shuffle, never a row shuffle —
      // and payloads return via one broadcast id-join. The merge law
      // holds PER STRATUM (q521's argument group-wise): `matched` pins
      // stratifiedSampleMerge(pre-400 sample, 400+ batch) byte-identical
      // to a full rebuild — computed over all columns, not asserted.
      // Oracle replays the per-lang bottom-64 and the integer HT
      // estimate of long docs.
      import graft.functions.Sketches
      val docs = table(s, d, "documents").select(
        col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
      // optimization r15 (guide §1.2): both sample tables are k-bounded
      // (64 rows per stratum) but their build lineages were re-evaluated
      // by the two-sided diff and the final rollup — pin each once and
      // test with the one-pass rollup (Checks.multisetEqual scaladoc)
      val samp = Sketches.stratifiedSampleTable(docs, col("doc_id"),
        Seq("lang"), 64).pinLazy()
      val merged = Sketches.stratifiedSampleMerge(
        Sketches.stratifiedSampleTable(docs.filter(col("doc_id") < 400L),
          col("doc_id"), Seq("lang"), 64),
        docs.filter(col("doc_id") >= 400L), col("doc_id"), Seq("lang"), 64)
        .pinLazy()
      val cols = samp.columns.sorted.map(col).toIndexedSeq
      val matched = Checks.multisetEqual(samp.select(cols: _*),
        merged.select(cols: _*))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      samp.groupBy("lang")
        .agg(first(col("aqp_n")).as("n_docs"), first(col("aqp_k")).as("k_g"),
          sum(when(col("n_chars") > 400L, 1L).otherwise(0L)).as("m_long"))
        .withColumn("est_long_docs", call_function("div",
          dec(col("n_docs")) * dec(col("m_long")), dec(col("k_g")))
          .cast("long"))
        .withColumn("matched", lit(if (matched) 1L else 0L))
        .select("lang", "n_docs", "k_g", "est_long_docs", "matched")
        .orderBy("lang")
    }, Some(
      """WITH ranked AS (
        |  SELECT lang, n_chars,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
        |  FROM documents),
        |counts AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY 1),
        |samp AS (SELECT lang,
        |                CAST(count(*) AS BIGINT) AS k_g,
        |                CAST(count(*) FILTER (WHERE n_chars > 400)
        |                     AS BIGINT) AS m_long
        |         FROM ranked WHERE rn <= 64 GROUP BY 1)
        |SELECT c.lang, c.n_docs, s.k_g,
        |       CAST((c.n_docs * s.m_long) // s.k_g AS BIGINT)
        |         AS est_long_docs,
        |       CAST(1 AS BIGINT) AS matched
        |FROM counts c JOIN samp s ON c.lang = s.lang
        |ORDER BY 1""".stripMargin)),

    QueryDef("q536_left_join_ivm", (s, d) => {
      // LEFT-join IVM by AFFECTED-KEY RECOMPUTE (JoinView.deltaLeft) —
      // the insert-only delta rule cannot serve outer joins: an order
      // with no shipped lines sits in the view as a NULL-padded row, and
      // when its first line arrives that row must RETRACT. The recompute
      // form keeps O(affected): affected = new orders ∪ old orders a new
      // line touches (key-grain left-semi), the batch is their COMPLETE
      // current match sets, and retraction is the delete half of the
      // DeleteInsert sink the engine already has (keyed on the fact
      // identity okey — unique on orders, unlike the lines' (okey,
      // lineno)). Run 1 (pre-cutoff lines) leaves 365 orders
      // null-padded; run 2's late-shipping lines RETRACT 108 of them,
      // and the 257 left are orders with genuinely no lines in the data
      // — the oracle derives both counts independently, so a retraction
      // bug cannot hide in the residue. Digit-matched against a full
      // left-join recompute.
      import graft.engine.{Incremental, IncrementalMat, JoinView, Model,
        Registry}
      val wh = Scratch.warehouse("q536", d, s, Seq("la", "lb", "lv"))
      val cutDay = datediff(lit("2001-01-01").cast("date"),
        lit("1970-01-01").cast("date"))
      val oAll = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        day(col("o_orderdate")).as("o_day"))
      val lAll = table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("okey"),
        col("l_linenumber").cast("long").as("lineno"),
        day(col("l_shipdate")).as("ship_day"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100
          + 0.5).cast("long").as("rev_cents"))
      def reg(): Registry = {
        val r = new Registry(s, wh)
        r.register(Model("lv", Seq("la", "lb"),
          IncrementalMat(Incremental.DeleteInsert, Seq("okey")),
          ctx => JoinView.deltaLeft(wh, "lv",
            "la", ctx.ref("la"), "o_day",
            "lb", ctx.ref("lb"), "ship_day", Seq("okey")),
          postHooks = Seq(JoinView.cursorHook(
            Seq("la" -> "o_day", "lb" -> "ship_day")))))
        r
      }
      wh.writeSwap("la", oAll.filter(col("o_day") < cutDay))
      wh.writeSwap("lb", lAll.filter(col("ship_day") < cutDay))
      reg().run()
      val nNull1 = wh.read("lv").filter(col("lineno").isNull).count()
      wh.writeSwap("la", oAll)
      wh.writeSwap("lb", lAll)
      reg().run()
      val stored = wh.read("lv")
      val nNull2 = stored.filter(col("lineno").isNull).count()
      // optimization r15: one-pass multiset equality (Checks.multisetEqual
      // scaladoc) — the exceptAll diff ran the left-join recompute twice
      val matched = Checks.multisetEqual(stored,
        oAll.join(lAll, Seq("okey"), "left"))
      import s.implicits._
      Seq(1).toDF("one").select(
        lit(stored.count()).as("n_view"),
        lit(nNull1).as("n_null_run1"),
        lit(nNull2).as("n_null_run2"),
        lit(if (matched) 1L else 0L).as("matched"))
    }, Some(
      """WITH c AS (SELECT CAST(DATE '2001-01-01' - DATE '1970-01-01'
        |                       AS BIGINT) AS cut),
        |o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |                  AS BIGINT) AS o_day
        |      FROM orders),
        |l AS (SELECT CAST(l_orderkey AS BIGINT) AS okey,
        |             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
        |                  AS BIGINT) AS ship_day
        |      FROM lineitem),
        |nullr1 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM o, c
        |  WHERE o_day < cut AND NOT EXISTS (
        |    SELECT 1 FROM l, c c2
        |    WHERE l.okey = o.okey AND l.ship_day < c2.cut)),
        |nullr2 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM o
        |  WHERE NOT EXISTS (SELECT 1 FROM l WHERE l.okey = o.okey)),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS n
        |      FROM o LEFT JOIN l USING (okey))
        |SELECT (SELECT n FROM v) AS n_view,
        |       (SELECT n FROM nullr1) AS n_null_run1,
        |       (SELECT n FROM nullr2) AS n_null_run2,
        |       CAST(1 AS BIGINT) AS matched""".stripMargin)),

    QueryDef("q537_quarantine", (s, d) => {
      // ROW QUARANTINE — the dead-letter posture the reference lacks
      // (its DQ is abort-or-record; Quarantine.wrap DIVERTS): rows
      // failing any declared rule never reach the model's relation —
      // they append to `<model>__quarantine` tagged with the FIRST rule
      // they failed, through the I1 sink, so quarantine ACCUMULATES
      // across incremental runs while the clean rows flow downstream
      // uninterrupted. Two batches, each with planted corruption
      // (negative cents, NULL customer key — and NULL predicate results
      // count as failing, the tri-state discipline): the mart totals
      // exactly the 15 000 clean orders; the quarantine holds all five
      // bad rows with per-rule counts pinned. The oracle replays the
      // clean aggregate and the planted constants.
      import graft.engine.{Incremental, IncrementalMat, Model, Quarantine,
        Registry}
      val wh = Scratch.warehouse("q537", d, s, Seq("stg", "stg__quarantine"))
      import s.implicits._
      val orders = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        col("o_custkey").cast("long").as("ck"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val bad1 = Seq((900001L, Some(1L), -5L), (900002L, None, 10L))
        .toDF("okey", "ck", "cents")
      val bad2 = Seq((900003L, None: Option[Long], -1L))
        .toDF("okey", "ck", "cents")
      val rules = Seq(
        "nonneg_cents" -> (col("cents") >= 0L),
        "ck_present" -> col("ck").isNotNull)
      def run(batch: org.apache.spark.sql.DataFrame): Unit = {
        val reg = new Registry(s, wh)
        reg.source("src", batch)
        reg.register(Quarantine.wrap(
          Model("stg", Seq("src"), IncrementalMat(Incremental.Append, Nil),
            ctx => ctx.ref("src")), rules))
        reg.run()
      }
      run(orders.filter(col("okey") < 7500L).unionByName(bad1))
      run(orders.filter(col("okey") >= 7500L).unionByName(bad2))
      val q = wh.read("stg__quarantine")
      val clean = wh.read("stg")
      Seq(1).toDF("one").select(
        lit(clean.count()).as("n_clean"),
        lit(clean.agg(sum("cents")).head().getLong(0)).as("clean_cents_total"),
        lit(q.count()).as("n_quarantined"),
        lit(q.filter(col("__q_rule") === "nonneg_cents").count())
          .as("n_rule_nonneg"),
        lit(q.filter(col("__q_rule") === "ck_present").count())
          .as("n_rule_ck"))
    }, Some(
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_clean,
        |       (SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
        |                             AS BIGINT)) AS BIGINT) FROM orders)
        |         AS clean_cents_total,
        |       CAST(3 AS BIGINT) AS n_quarantined,
        |       CAST(2 AS BIGINT) AS n_rule_nonneg,
        |       CAST(1 AS BIGINT) AS n_rule_ck""".stripMargin)),

    QueryDef("q538_cdc_apply", (s, d) => {
      // CDC APPLY — consuming a change-data-capture log (the
      // Debezium/DMS shape) into a mirrored table, the face the
      // reference approximates with SCD2 snapshots: highest sequence
      // wins per key, D tombstones, batches in ANY order and ANY split.
      // The stored mirror keeps seq/op AND tombstone rows — both
      // load-bearing: batch 3 delivers STALE updates (seq 2) for keys a
      // seq-4 tombstone already killed, and they must lose to the stored
      // tombstone, not resurrect the row. matched_batching pins the
      // associativity the design buys: applying (b1, b2, b3) one at a
      // time equals applying their union at once, digit-for-digit. The
      // oracle replays the final mirror directly from the log algebra.
      import graft.engine.Incremental
      val orders = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val b1 = orders.select(col("okey"), lit(1L).as("seq"), lit("I").as("op"),
        col("cents"))
      val b2 = orders.filter(col("okey") % 5L === 0L)
        .select(col("okey"), lit(3L).as("seq"), lit("U").as("op"),
          (col("cents") + 100L).as("cents"))
        .unionByName(orders.filter(col("okey") % 7L === 0L)
          .select(col("okey"), lit(4L).as("seq"), lit("D").as("op"),
            lit(0L).as("cents")))
      val b3 = orders.filter(col("okey") % 7L === 0L)
        .select(col("okey"), lit(2L).as("seq"), lit("U").as("op"),
          (col("cents") + 1L).as("cents"))
      val empty = b1.limit(0)
      // optimization r15 (guide §1.2): the mirror states are pinned after
      // each apply — production applies each batch against a STORED
      // mirror, and the lazy chain here made every downstream scalar
      // re-execute all three window/dedup passes (t3's plan was evaluated
      // six times across the diff and the readout scalars)
      val t1 = Incremental.applyCdc(empty, b1, Seq("okey"), "seq", "op")
        .pinLazy()
      val t2 = Incremental.applyCdc(t1, b2, Seq("okey"), "seq", "op")
        .pinLazy()
      val t3 = Incremental.applyCdc(t2, b3, Seq("okey"), "seq", "op")
        .pinLazy()
      val oneShot = Incremental.applyCdc(empty,
        b1.unionByName(b2).unionByName(b3), Seq("okey"), "seq", "op")
      // one-pass multiset equality (Checks.multisetEqual scaladoc) — the
      // two-sided exceptAll diff evaluated oneShot twice
      val matched = Checks.multisetEqual(t3, oneShot)
      val live = Incremental.readCdc(t3, "seq", "op")
      val liveAgg = live.agg(count(lit(1)).as("n"), sum("cents").as("c")).head()
      import s.implicits._
      Seq(1).toDF("one").select(
        lit(liveAgg.getLong(0)).as("n_live"),
        lit(t3.filter(col("op") === "D").count()).as("n_tombstones"),
        lit(liveAgg.getLong(1)).as("cents_total"),
        lit(if (matched) 1L else 0L).as("matched_batching"))
    }, Some(
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |final AS (
        |  SELECT okey,
        |         CASE WHEN okey % 5 = 0 THEN cents + 100 ELSE cents END
        |           AS cents
        |  FROM base WHERE okey % 7 <> 0)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM final) AS n_live,
        |       (SELECT CAST(count(*) AS BIGINT) FROM base
        |        WHERE okey % 7 = 0) AS n_tombstones,
        |       (SELECT CAST(sum(cents) AS BIGINT) FROM final)
        |         AS cents_total,
        |       CAST(1 AS BIGINT) AS matched_batching""".stripMargin)),

    QueryDef("q539_late_arrival", (s, d) => {
      // LATE DATA vs the cursor contract — the honest failure mode of
      // every cursor-based incremental system: a row that lands with a
      // cursor BELOW the recorded high-water mark is invisible to the
      // next delta (the contract said append-only in cursor order; the
      // world said otherwise). commitCursors' `lateness` is the batch
      // watermark allowance: recording max − L makes every later delta
      // RE-DERIVE the trailing window, catching rows up to L late, and
      // the overlap re-lands idempotently because the DeleteInsert sink
      // replaces whole cursor-value slices. Two views over the SAME
      // data: the L = 0 view misses all 60 join rows of the withheld
      // late lines (n_missing_strict — the oracle derives it from the
      // late-marker predicate); the L = 45 view (declared on the LINE
      // side only — lateness is per dependency, see cursorHook) catches
      // every one: n_missing_late = 0, matched = 1. Choosing L is
      // declaring how late your data may be — the engine makes the
      // choice explicit instead of silently wrong.
      import graft.engine.{Incremental, IncrementalMat, JoinView, Model,
        Registry}
      val wh = Scratch.warehouse("q539", d, s, Seq(
        "wa", "wb", "lv0", "lv45"))
      val cutDay = datediff(lit("2001-01-01").cast("date"),
        lit("1970-01-01").cast("date"))
      val oAll = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        day(col("o_orderdate")).as("o_day"))
      val lAll = table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("okey"),
        col("l_linenumber").cast("long").as("lineno"),
        day(col("l_shipdate")).as("ship_day"))
      val isLate = col("okey") % 13L === 0L &&
        col("ship_day") >= cutDay - 30 && col("ship_day") < cutDay
      // sink key = the GROWING side's cursor column: redelivery replaces
      // whole cursor-value slices (delete every stored row sharing a
      // ship_day with the batch, insert the batch) — the only identity
      // that is both idempotent under window re-landing AND safe when
      // the generator gives lines no unique key ((okey, lineno) is NOT
      // unique here — q506's measured fact; keying on it would delete
      // sibling rows). Sound because only wb grows: delta rows carry
      // ship_day > stored cursor, so normal runs touch no stored slice
      // and replays replace exactly their own window.
      def reg(view: String, lateness: Long): Registry = {
        val r = new Registry(s, wh)
        r.register(Model(view, Seq("wa", "wb"),
          IncrementalMat(Incremental.DeleteInsert, Seq("ship_day")),
          ctx => JoinView.delta(wh, view,
            "wa", ctx.ref("wa"), "o_day",
            "wb", ctx.ref("wb"), "ship_day", Seq("okey")),
          postHooks = Seq(JoinView.cursorHook(
            Seq("wa" -> "o_day", "wb" -> "ship_day"),
            if (lateness == 0L) Map.empty[String, Long]
            else Map("wb" -> lateness)))))
        r
      }
      // run 1: the late rows are WITHHELD (they exist in the world but
      // haven't landed); everything else below the cutoff is present
      wh.writeSwap("wa", oAll)
      wh.writeSwap("wb", lAll.filter(col("ship_day") < cutDay && !isLate))
      reg("lv0", 0L).run()
      reg("lv45", 45L).run()
      // run 2: the full table lands — late rows carry OLD ship days
      wh.writeSwap("wa", oAll)
      wh.writeSwap("wb", lAll)
      reg("lv0", 0L).run()
      reg("lv45", 45L).run()
      // optimization r15: the recompute join fed THREE exceptAll jobs
      // (m0, m45, the matched reverse check). Pinning it measured SLOWER
      // (12.9 s vs 11.1 s — the checkpoint materialization outweighs
      // re-running a scan + broadcast join), so instead both lv45
      // directions collapse into ONE signed rollup (Checks.exceptAllCounts
      // scaladoc): two jobs total, the join evaluated twice, not thrice.
      val full = oAll.join(lAll, Seq("okey"))
      val m0 = Checks.exceptAllCounts(full, wh.read("lv0"))._1
      val (m45, rev45) = Checks.exceptAllCounts(full, wh.read("lv45"))
      import s.implicits._
      Seq(1).toDF("one").select(
        lit(m0).as("n_missing_strict"),
        lit(m45).as("n_missing_late"),
        lit(if (m45 == 0L && rev45 == 0L) 1L else 0L)
          .as("matched"))
    }, Some(
      """WITH c AS (SELECT CAST(DATE '2001-01-01' - DATE '1970-01-01'
        |                       AS BIGINT) AS cut),
        |l AS (SELECT CAST(l_orderkey AS BIGINT) AS okey,
        |             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
        |                  AS BIGINT) AS ship_day
        |      FROM lineitem),
        |late AS (SELECT okey FROM l, c
        |         WHERE okey % 13 = 0 AND ship_day >= cut - 30
        |           AND ship_day < cut)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM late)
        |         AS n_missing_strict,
        |       CAST(0 AS BIGINT) AS n_missing_late,
        |       CAST(1 AS BIGINT) AS matched""".stripMargin)),

    QueryDef("q540_lattice_advisor", (s, d) => {
      // VIEW SELECTION over the rollup lattice (Harinarayan, Rajaraman &
      // Ullman, SIGMOD '96 — the greedy benefit heuristic, (1 − 1/e) of
      // optimal) as engine machinery over register-grain inputs: ONE
      // CUBE pass prices every cuboid exactly (Rollup.cuboidSizes — at
      // 100 TB the alternative is 2^d countDistinct scans), the greedy
      // picks k = 2 rollups to materialize beside the always-available
      // top cuboid, every benefit is integer mask arithmetic the oracle
      // replays pick-by-pick (subset test = (q & v) = q; ties to the
      // smaller size then mask), and the PHYSICAL loop closes: the
      // picked rollups are declared + materialized and the registry
      // serves the declared workload through ctx.aggRef —
      // n_served_picked pins how many workload queries land on a picked
      // (non-top) rollup, derived independently by the oracle from the
      // replayed picks' coverage.
      import graft.engine.{Model, Registry, Rollup, TableMat, ViewMat}
      import graft.engine.Rollup.{Measure, Want}
      val wh = Scratch.warehouse("q540", d, s, Seq("li",
        "li__rollup_spec", "li__rollup_top", "li__rollup_pick1",
        "li__rollup_pick2"))
      val li = table(s, d, "lineitem").select(
        (col("l_partkey") % 50L).as("pm"),
        (col("l_suppkey") % 40L).as("sm"),
        year(to_date(col("l_shipdate"))).cast("long").as("yr"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      val dims = Seq("pm", "sm", "yr") // masks: pm=1, sm=2, yr=4
      val sizes = Rollup.cuboidSizes(li, dims)
      val workload = Seq((1, 10L), (6, 5L), (4, 20L), (5, 2L))
      val advice = Rollup.latticeAdvisor(sizes, 7, workload, 2)
      val picks = advice.filter(_._3 > 0).sortBy(_._3)
        .map { case (m, _, r, _) => (m, s"pick$r") }
      def dimsOf(m: Int): Seq[String] =
        dims.zipWithIndex.collect { case (c, i) if (m & (1 << i)) != 0 => c }
      val meas = Seq(Measure("sum", "cents"), Measure("count", "*"))
      val reg = new Registry(s, wh)
      reg.source("src", li)
      reg.register(Model("li", Seq("src"), TableMat(),
        ctx => ctx.ref("src"),
        postHooks = Rollup.rollupHook("top", dims, meas) +:
          picks.map { case (m, name) =>
            Rollup.rollupHook(name, dimsOf(m), meas) }))
      workload.zipWithIndex.foreach { case ((qm, _), i) =>
        reg.register(Model(s"ask$i", Seq("li"), ViewMat,
          ctx => ctx.aggRef("li", dimsOf(qm),
            Seq(Want("cents_total", "sum", "cents"),
              Want("n_rows", "count", "*")))))
      }
      reg.run()
      val servedPicked = reg.metadataOps.count(l =>
        l.startsWith("agg_ref ask") && l.contains("SERVED") &&
          l.contains("rollup 'pick")).toLong
      import s.implicits._
      advice.toDF("mask", "size", "pick_round", "benefit")
        .withColumn("mask", col("mask").cast("long"))
        .withColumn("pick_round", col("pick_round").cast("long"))
        .withColumn("n_served_picked", lit(servedPicked))
        .orderBy("mask")
    }, Some(
      """WITH li AS (
        |  SELECT CAST(l_partkey AS BIGINT) % 50 AS pm,
        |         CAST(l_suppkey AS BIGINT) % 40 AS sm,
        |         CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS yr
        |  FROM lineitem),
        |cub AS (
        |  SELECT (CASE WHEN GROUPING(pm) = 0 THEN 1 ELSE 0 END +
        |          CASE WHEN GROUPING(sm) = 0 THEN 2 ELSE 0 END +
        |          CASE WHEN GROUPING(yr) = 0 THEN 4 ELSE 0 END) AS mask
        |  FROM li GROUP BY CUBE (pm, sm, yr)),
        |sizes AS (SELECT mask, CAST(count(*) AS BIGINT) AS size
        |          FROM cub GROUP BY 1),
        |wl(qmask, w) AS (VALUES (1, 10), (6, 5), (4, 20), (5, 2)),
        |tops AS (SELECT size FROM sizes WHERE mask = 7),
        |b1 AS (
        |  SELECT s.mask, s.size,
        |         coalesce(sum(w.w * GREATEST(0,
        |           (SELECT size FROM tops) - s.size)), 0) AS ben
        |  FROM sizes s LEFT JOIN wl w ON (w.qmask & s.mask) = w.qmask
        |  WHERE s.mask NOT IN (0, 7) GROUP BY 1, 2),
        |p1 AS (SELECT mask, size, ben FROM b1
        |       ORDER BY ben DESC, size ASC, mask ASC LIMIT 1),
        |cost1 AS (
        |  SELECT w.qmask, w.w,
        |         CASE WHEN (w.qmask & (SELECT mask FROM p1)) = w.qmask
        |              THEN LEAST((SELECT size FROM tops),
        |                         (SELECT size FROM p1))
        |              ELSE (SELECT size FROM tops) END AS cost
        |  FROM wl w),
        |b2 AS (
        |  SELECT s.mask, s.size,
        |         coalesce(sum(c.w * GREATEST(0, c.cost - s.size)), 0) AS ben
        |  FROM sizes s LEFT JOIN cost1 c ON (c.qmask & s.mask) = c.qmask
        |  WHERE s.mask NOT IN (0, 7) AND s.mask <> (SELECT mask FROM p1)
        |  GROUP BY 1, 2),
        |p2 AS (SELECT mask, size, ben FROM b2
        |       ORDER BY ben DESC, size ASC, mask ASC LIMIT 1),
        |served AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM wl
        |  WHERE (qmask & (SELECT mask FROM p1)) = qmask
        |     OR (qmask & (SELECT mask FROM p2)) = qmask)
        |SELECT s.mask, s.size,
        |       CAST(CASE WHEN s.mask = (SELECT mask FROM p1) THEN 1
        |                 WHEN s.mask = (SELECT mask FROM p2) THEN 2
        |                 ELSE 0 END AS BIGINT) AS pick_round,
        |       CAST(CASE WHEN s.mask = 7 THEN 0
        |                 WHEN s.mask = (SELECT mask FROM p2)
        |                   THEN (SELECT ben FROM p2)
        |                 ELSE (SELECT ben FROM b1 b WHERE b.mask = s.mask)
        |            END AS BIGINT) AS benefit,
        |       (SELECT n FROM served) AS n_served_picked
        |FROM sizes s WHERE s.mask <> 0 ORDER BY s.mask""".stripMargin)),

    QueryDef("q541_one_pass_lattice_build", (s, d) => {
      // ONE-PASS lattice materialization (Rollup.partialsMany): however
      // many rollups the advisor chose, the base is scanned ONCE — a
      // single GROUPING SETS aggregation produces every subset's
      // partials tagged by grouping_id, pinned at register grain and
      // sliced per rollup. Each slice is row- and type-identical to the
      // per-rollup Rollup.partials build (matched — computed per subset,
      // both directions), and every slice totals the same base (the
      // partials-total invariant: cents_total identical across rows,
      // replayed by the oracle as the base sum). n_tuples replays each
      // cuboid's exact cardinality.
      import graft.engine.Rollup
      import graft.engine.Rollup.Measure
      val li = table(s, d, "lineitem").select(
        (col("l_partkey") % 50L).as("pm"),
        (col("l_suppkey") % 40L).as("sm"),
        year(to_date(col("l_shipdate"))).cast("long").as("yr"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      val meas = Seq(Measure("sum", "cents"), Measure("count", "*"))
      val subsets = Seq(Seq("pm"), Seq("sm", "yr"), Seq("pm", "yr"))
      val many = Rollup.partialsMany(li, subsets, meas)
      import s.implicits._
      many.map { case (sub, df) =>
        val direct = Rollup.partials(li, sub, meas)
        // optimization r15: one-pass multiset equality (Checks.multisetEqual
        // scaladoc) — the exceptAll diff ran each per-subset direct build
        // twice (the partialsMany slices were already pinned)
        val matched = Checks.multisetEqual(df, direct)
        val total = df.agg(sum("sum_cents")).head().getLong(0)
        (sub.mkString("|"), df.count(), total,
          if (matched) 1L else 0L)
      }.toDF("subset", "n_tuples", "cents_total", "matched")
        .orderBy("subset")
    }, Some(
      """WITH li AS (
        |  SELECT CAST(l_partkey AS BIGINT) % 50 AS pm,
        |         CAST(l_suppkey AS BIGINT) % 40 AS sm,
        |         CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS yr,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |           AS cents
        |  FROM lineitem),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM li)
        |SELECT 'pm' AS subset,
        |       (SELECT CAST(count(DISTINCT pm) AS BIGINT) FROM li)
        |         AS n_tuples,
        |       (SELECT t FROM tot) AS cents_total,
        |       CAST(1 AS BIGINT) AS matched
        |UNION ALL
        |SELECT 'pm|yr',
        |       (SELECT CAST(count(*) AS BIGINT) FROM
        |        (SELECT DISTINCT pm, yr FROM li)),
        |       (SELECT t FROM tot), CAST(1 AS BIGINT)
        |UNION ALL
        |SELECT 'sm|yr',
        |       (SELECT CAST(count(*) AS BIGINT) FROM
        |        (SELECT DISTINCT sm, yr FROM li)),
        |       (SELECT t FROM tot), CAST(1 AS BIGINT)
        |ORDER BY 1""".stripMargin)),

    QueryDef("q542_stream_join_view", (s, d) => {
      // STREAM-MAINTAINED JOIN VIEW — the stream cell of the join-view
      // maintenance matrix (q525 batch cursors, q531 agg-over-join; now
      // the enriched stream): every micro-batch IS the fact delta by
      // construction, the stored dim is static for the stream's
      // lifetime, so the bilinear delta rule collapses to batch ⋈ dim
      // appended per trigger — EventsStream.joinStream, with the
      // batch-id LEDGER closing the common crash-replay window
      // (aggStream's documented missing half: the ledger no-ops a
      // replayed batch whose id is already recorded). The dim keeps only
      // three of four user segments, so the join genuinely drops rows
      // (not an enrichment identity). Digits equal the batch recompute
      // over everything ingested — the q522 stream-feeds-the-rewrite
      // discipline applied to joins.
      import graft.streaming.EventsStream
      val wh = Scratch.warehouse("q542", d, s, Seq("ev_dim", "ev__join_live"))
      Scratch.resetCheckpoint(wh, "ev__join_live")
      def shape(df: org.apache.spark.sql.DataFrame) = df.select(
        col("user_id").cast("long").as("uid"),
        col("event_type").as("etype"),
        floor(col("value") * 100).cast("long").as("cents"))
      val batchAll = shape(table(s, d, "events"))
      wh.writeSwap("ev_dim", batchAll.select("uid").distinct()
        .filter(col("uid") % 4L =!= 3L)
        .withColumn("seg", concat(lit("s"), (col("uid") % 4L).cast("string"))))
      val q = EventsStream.joinStream(shape(EventsStream.readEvents(s, d)),
        wh, "ev__join_live", wh.read("ev_dim"), Seq("uid"))
      q.awaitTermination()
      val stored = wh.read("ev__join_live")
      // optimization r15: one-pass multiset equality (Checks.multisetEqual
      // scaladoc) — the exceptAll diff ran the batch recompute join twice
      val matched = Checks.multisetEqual(stored,
        batchAll.join(wh.read("ev_dim"), Seq("uid")))
      stored.groupBy("seg")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("cents_total"))
        .withColumn("matched", lit(if (matched) 1L else 0L))
        .orderBy("seg")
    }, Some(
      """SELECT concat('s', CAST(CAST(user_id AS BIGINT) % 4 AS VARCHAR))
        |         AS seg,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |         AS cents_total,
        |       CAST(1 AS BIGINT) AS matched
        |FROM events WHERE CAST(user_id AS BIGINT) % 4 <> 3
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q543_dont_recompute_capstone", (s, d) => {
      // ROUND CAPSTONE — the don't-recompute stack as ONE nightly
      // pipeline, every surface doing its own job: (1) QUARANTINE at
      // ingest — both runs' planted bad rows divert to the dead-letter
      // table, so every downstream digit is clean TPC-H arithmetic;
      // (2) the ov join view absorbs run 2's batch through the bilinear
      // delta rule at O(Δ); (3) dim_c REUSES by build signature, which
      // keeps its run-1 key constraint current, so the dashboard's
      // lookup join is ELIMINATED; (4) the LATTICE ADVISOR prices the
      // (rflag, shipyear) cuboids from one CUBE pass over the view and
      // picks the best rollup under a k = 1 budget — the oracle replays
      // the pick with the greedy's own integer arithmetic — and the
      // dashboard ask is SERVED from that picked rollup through
      // ctx.aggRef. Six decision pins + clean digits, each derived
      // independently by the oracle.
      import graft.engine.{Constraints, Incremental, IncrementalMat,
        JoinView, Model, Quarantine, Registry, Rollup, TableMat, ViewMat}
      import graft.engine.Rollup.{Measure, Want}
      val wh = Scratch.warehouse("q543", d, s, Seq(
        "dim_c", "stg_o", "stg_o__quarantine", "stg_l", "stg_l__quarantine",
        "ov", "ov__rollup_spec", "ov__rollup_pick"))
      val cutDay = datediff(lit("2001-01-01").cast("date"),
        lit("1970-01-01").cast("date"))
      val oAll = table(s, d, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        col("o_custkey").cast("long").as("ck"),
        day(col("o_orderdate")).as("o_day"))
      val lAll = table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("okey"),
        col("l_linenumber").cast("long").as("lineno"),
        day(col("l_shipdate")).as("ship_day"),
        col("l_returnflag").as("rflag"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100
          + 0.5).cast("long").as("rev_cents"))
      import s.implicits._
      val badO = Seq((900001L, None: Option[Long], 0L),
        (900002L, Some(1L), -9L)).toDF("okey", "ck", "o_day")
      val badL = Seq((900003L, 1L, 0L, "X", -5L))
        .toDF("okey", "lineno", "ship_day", "rflag", "rev_cents")
      def mkReg(full: Boolean): Registry = {
        val sig = if (full) "b2" else "b1"
        val reg = new Registry(s, wh).enableReuse()
        // each run's source is the BATCH (append-only staging)
        val oB = (if (full) oAll.filter(col("o_day") >= cutDay)
          else oAll.filter(col("o_day") < cutDay)).unionByName(
          if (full) badO.limit(1) else badO.limit(2).exceptAll(badO.limit(1)))
        val lB = (if (full) lAll.filter(col("ship_day") >= cutDay)
          else lAll.filter(col("ship_day") < cutDay)).unionByName(
          if (full) badL else badL.limit(0))
        reg.source("src_o", oB, s"orders_$sig")
        reg.source("src_l", lB, s"lineitem_$sig")
        reg.source("src_c", table(s, d, "customer").select(
          col("c_custkey").cast("long").as("ck"),
          col("c_mktsegment").as("seg")), "cust_b1")
        reg.register(Model("dim_c", Seq("src_c"), TableMat(),
          ctx => ctx.ref("src_c"),
          postHooks = Seq(Constraints.keyHook(Seq("ck")))))
        reg.register(Quarantine.wrap(
          Model("stg_o", Seq("src_o"), IncrementalMat(Incremental.Append, Nil),
            ctx => ctx.ref("src_o")),
          Seq("ck_present" -> col("ck").isNotNull,
            "day_nonneg" -> (col("o_day") >= 0L))))
        reg.register(Quarantine.wrap(
          Model("stg_l", Seq("src_l"), IncrementalMat(Incremental.Append, Nil),
            ctx => ctx.ref("src_l")),
          Seq("rev_nonneg" -> (col("rev_cents") >= 0L))))
        reg.register(Model("ov", Seq("stg_o", "stg_l"),
          IncrementalMat(Incremental.Append, Nil),
          ctx => JoinView.delta(wh, "ov",
            "stg_o", ctx.ref("stg_o"), "o_day",
            "stg_l", ctx.ref("stg_l"), "ship_day", Seq("okey"))
            .withColumn("yr", (col("ship_day") / lit(365L)).cast("long")),
          postHooks = Seq(JoinView.cursorHook(
            Seq("stg_o" -> "o_day", "stg_l" -> "ship_day")))))
        reg
      }
      mkReg(full = false).run()
      val n1 = wh.read("ov").count()
      val r2 = mkReg(full = true); r2.run()
      val n2 = wh.read("ov").count()
      val nReuse = r2.metadataOps.count(_.startsWith("reuse ")).toLong
      // lattice advice over the view: dims (rflag=1, yr=2), k = 1
      val ov = wh.read("ov")
      val sizes = Rollup.cuboidSizes(ov, Seq("rflag", "yr"))
      val advice = Rollup.latticeAdvisor(sizes, 3, Seq((1, 10L), (2, 1L)), 1)
      val pick = advice.find(_._3 == 1).get._1
      val pickDims = Seq("rflag", "yr").zipWithIndex
        .collect { case (c, i) if (pick & (1 << i)) != 0 => c }
      val meas = Seq(Measure("sum", "rev_cents"), Measure("count", "*"))
      wh.writeSwap("ov__rollup_pick",
        Rollup.partialsMany(ov, Seq(pickDims), meas).head._2)
      Rollup.declareSpec(s, wh, "ov", "pick", pickDims, meas)
      val dash = new Registry(s, wh)
      dash.register(Model("board", Seq("ov", "dim_c"), ViewMat, ctx => {
        val byFlag = ctx.aggRef("ov", Seq("rflag"),
          Seq(Want("rev_total", "sum", "rev_cents"),
            Want("n_rows", "count", "*")))
        byFlag
      }))
      dash.register(Model("detail", Seq("ov", "dim_c"), ViewMat,
        ctx => ctx.lookupJoin("ov", "dim_c", Seq("ck"),
          Seq("okey", "rev_cents"), "left")))
      dash.run()
      val served = dash.metadataOps.count(l =>
        l.startsWith("agg_ref board") && l.contains("SERVED") &&
          l.contains("'pick'")).toLong
      val nElim = dash.metadataOps.count(l =>
        l.startsWith("lookup_join") && l.contains("ELIMINATED")).toLong
      // optimization r15: one-pass multiset equality (Checks.multisetEqual
      // scaladoc) instead of the two-sided exceptAll diff that computed
      // the clean recompute join twice
      val matched = Checks.multisetEqual(wh.read("ov").drop("yr"),
        oAll.join(lAll, Seq("okey")))
      dash.relation("board")
        .withColumn("n_quarantined",
          lit(wh.read("stg_o__quarantine").count() +
            wh.read("stg_l__quarantine").count()))
        .withColumn("n_reused_run2", lit(nReuse))
        .withColumn("n_delta2", lit(n2 - n1))
        .withColumn("pick_mask", lit(pick.toLong))
        .withColumn("n_served_pick", lit(served))
        .withColumn("n_eliminated", lit(nElim))
        .withColumn("matched", lit(if (matched) 1L else 0L))
        .orderBy("rflag")
    }, Some(
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |                  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |                       AS BIGINT) AS o_day
        |           FROM orders),
        |l AS (SELECT CAST(l_orderkey AS BIGINT) AS okey,
        |             l_returnflag AS rflag,
        |             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
        |                  AS BIGINT) AS ship_day,
        |             CAST(floor(l_extendedprice * (1 - l_discount) * 100
        |                        + 0.5) AS BIGINT) AS rev_cents
        |      FROM lineitem),
        |j AS (SELECT *, ship_day // 365 AS yr FROM o JOIN l USING (okey)),
        |cutd AS (SELECT CAST(DATE '2001-01-01' - DATE '1970-01-01'
        |                     AS BIGINT) AS c),
        |delta AS (SELECT CAST(count(*) AS BIGINT) AS n FROM j, cutd
        |          WHERE o_day >= c OR ship_day >= c),
        |cub AS (SELECT (CASE WHEN GROUPING(rflag) = 0 THEN 1 ELSE 0 END +
        |                CASE WHEN GROUPING(yr) = 0 THEN 2 ELSE 0 END)
        |          AS mask
        |        FROM j GROUP BY CUBE (rflag, yr)),
        |sizes AS (SELECT mask, CAST(count(*) AS BIGINT) AS size
        |          FROM cub GROUP BY 1),
        |wl(qmask, w) AS (VALUES (1, 10), (2, 1)),
        |b1 AS (SELECT s.mask, s.size,
        |              coalesce(sum(w.w * GREATEST(0,
        |                (SELECT size FROM sizes WHERE mask = 3) - s.size)),
        |                0) AS ben
        |       FROM sizes s LEFT JOIN wl w ON (w.qmask & s.mask) = w.qmask
        |       WHERE s.mask IN (1, 2) GROUP BY 1, 2),
        |p1 AS (SELECT mask FROM b1
        |       ORDER BY ben DESC, size ASC, mask ASC LIMIT 1)
        |SELECT rflag,
        |       CAST(sum(rev_cents) AS BIGINT) AS rev_total,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(3 AS BIGINT) AS n_quarantined,
        |       CAST(1 AS BIGINT) AS n_reused_run2,
        |       (SELECT n FROM delta) AS n_delta2,
        |       (SELECT CAST(mask AS BIGINT) FROM p1) AS pick_mask,
        |       CAST(1 AS BIGINT) AS n_served_pick,
        |       CAST(1 AS BIGINT) AS n_eliminated,
        |       CAST(1 AS BIGINT) AS matched
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin))
  )

}
