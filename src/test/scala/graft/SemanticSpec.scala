package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.{Constraints, Incremental, IncrementalMat, JoinView,
  Model, Registry, TableMat, ViewMat, Warehouse}
import graft.queries.Scratch

/** The don't-recompute surfaces (round-15 continuation III): build
  * avoidance from input signatures, verified-constraint semantic rewrites
  * (join/distinct elimination + the signature-currency refusals), and
  * incremental join-view maintenance (delta rule laws, crash idempotence
  * through the DeleteInsert sink, NULL-cursor guard).
  */
class SemanticSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshWh(): Warehouse =
    new Warehouse(Scratch.tempDir("graft_sem").toString, spark)

  // ---- build reuse ---------------------------------------------------

  private def reuseReg(wh: Warehouse, sig: String, bump: Option[String] = None,
      hookCount: java.util.concurrent.atomic.AtomicInteger =
        new java.util.concurrent.atomic.AtomicInteger()): Registry = {
    val reg = new Registry(spark, wh).enableReuse()
    reg.source("raw", Seq((1L, "a"), (2L, "b")).toDF("k", "s"), sig)
    reg.register(Model("t1", Seq("raw"), TableMat(),
      ctx => ctx.ref("raw"), fingerprint = bump,
      postHooks = Seq(_ => { hookCount.incrementAndGet(); () })))
    reg.register(Model("t2", Seq("t1"), TableMat(),
      ctx => ctx.ref("t1").withColumn("s2", upper(col("s")))))
    reg
  }

  test("reuse: unchanged signatures skip builds AND hooks; any change rebuilds") {
    val wh = freshWh()
    val hooks = new java.util.concurrent.atomic.AtomicInteger()
    reuseReg(wh, "b1", None, hooks).run()
    assert(hooks.get() === 1)
    val sig1 = wh.relationSignature("t1").get

    // run 2: same source signature -> both models reuse, hook NOT re-run,
    // storage untouched (same file listing)
    val r2 = reuseReg(wh, "b1", None, hooks)
    r2.run()
    assert(r2.metadataOps.count(_.startsWith("reuse ")) === 2)
    assert(hooks.get() === 1)
    assert(wh.relationSignature("t1").get === sig1)

    // run 3: source signature changed -> full chain rebuilds
    val r3 = reuseReg(wh, "b2", None, hooks)
    r3.run()
    assert(r3.metadataOps.count(_.startsWith("reuse ")) === 0)
    assert(hooks.get() === 2)

    // run 4: fingerprint bump (the dbt state:modified contract for logic
    // edits) rebuilds t1, and t1's fresh file listing cascades to t2
    val r4 = reuseReg(wh, "b2", Some("v2"), hooks)
    r4.run()
    assert(r4.metadataOps.count(_.startsWith("reuse ")) === 0)

    // run 5: stable again -> reuse; then an OUT-OF-BAND append to t1
    // changes its file listing and only t2's chain invalidates
    val r5 = reuseReg(wh, "b2", Some("v2"), hooks)
    r5.run()
    assert(r5.metadataOps.count(_.startsWith("reuse ")) === 2)
    wh.append("t1", Seq((9L, "z")).toDF("k", "s"))
    val r6 = reuseReg(wh, "b2", Some("v2"), hooks)
    r6.run()
    // t1 itself reuses (its INPUT signature is unchanged — the engine
    // cannot know the append was foreign; dbt semantics: the model's
    // definition and inputs define its build) but t2 sees t1's changed
    // listing and rebuilds with the appended row flowing through
    assert(r6.metadataOps.count(_.startsWith("reuse t1")) === 1)
    assert(r6.metadataOps.count(_.startsWith("reuse t2")) === 0)
    assert(r6.relation("t2").count() === 3)
  }

  test("reuse: unsignable source disqualifies (logged), fullRefresh overrides, ViewMat chains sign recursively") {
    val wh = freshWh()
    def mk(withSig: Boolean): Registry = {
      val reg = new Registry(spark, wh).enableReuse()
      val df = Seq((1L, 10L)).toDF("k", "v")
      if (withSig) reg.source("raw", df, "s1") else reg.source("raw", df)
      reg.register(Model("vw", Seq("raw"), ViewMat,
        ctx => ctx.ref("raw").withColumn("v2", col("v") * 2)))
      reg.register(Model("tbl", Seq("vw"), TableMat(),
        ctx => ctx.ref("vw")))
      reg
    }
    mk(withSig = false).run()
    val r2 = mk(withSig = false)
    r2.run()
    // no declared signature -> never reused, and the skip is explained
    assert(r2.metadataOps.count(_.startsWith("reuse ")) === 0)
    assert(r2.metadataOps.exists(_.startsWith("reuse_skip tbl")))

    // with a signature the ViewMat dep signs RECURSIVELY through raw
    val r3 = mk(withSig = true); r3.run()
    val r4 = mk(withSig = true); r4.run()
    assert(r4.metadataOps.count(_.startsWith("reuse tbl")) === 1)
    // fullRefresh overrides reuse like dbt --full-refresh
    val r5 = mk(withSig = true)
    r5.run(fullRefresh = true)
    assert(r5.metadataOps.count(_.startsWith("reuse ")) === 0)
  }

  test("reuse: a failing declared test never records a reusable signature") {
    val wh = freshWh()
    def mk(): Registry = {
      val reg = new Registry(spark, wh).enableReuse()
      reg.source("raw", Seq((1L, 1L), (1L, 2L)).toDF("k", "v"), "s1")
      reg.register(Model("tbl", Seq("raw"), TableMat(),
        ctx => ctx.ref("raw"),
        tests = Seq(graft.engine.ModelTest("unique_k",
          df => df.groupBy("k").count().filter(col("count") > 1)))))
      reg
    }
    intercept[IllegalStateException] { mk().run() }
    // the relation was materialized (tests run after DML) but no
    // signature was recorded — the retry builds again, it does not serve
    // the untested relation
    val r2 = mk()
    intercept[IllegalStateException] { r2.run() }
    assert(r2.metadataOps.count(_.startsWith("reuse ")) === 0)
  }

  // ---- constraints ---------------------------------------------------

  test("verifyKey: raises on duplicates and on NULL parts; verifiedKey is signature-current") {
    val wh = freshWh()
    wh.writeSwap("dim", Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    Constraints.verifyKey(wh, "dim", Seq("k"))
    assert(Constraints.verifiedKey(wh, "dim", Seq("k")))
    assert(!Constraints.verifiedKey(wh, "dim", Seq("s"))) // never verified

    // out-of-band append -> signature stale -> NOT verified
    wh.append("dim", Seq((3L, "c")).toDF("k", "s"))
    assert(!Constraints.verifiedKey(wh, "dim", Seq("k")))
    // re-verify against the new storage -> current again
    Constraints.verifyKey(wh, "dim", Seq("k"))
    assert(Constraints.verifiedKey(wh, "dim", Seq("k")))

    wh.writeSwap("dup", Seq((1L, "a"), (1L, "b")).toDF("k", "s"))
    intercept[IllegalArgumentException] {
      Constraints.verifyKey(wh, "dup", Seq("k"))
    }
    wh.writeSwap("nul", Seq((Some(1L), "a"), (None, "b")).toDF("k", "s"))
    intercept[IllegalArgumentException] {
      Constraints.verifyKey(wh, "nul", Seq("k"))
    }
    // a violated verification must not leave a recorded constraint
    assert(!Constraints.verifiedKey(wh, "dup", Seq("k")))
  }

  test("verifyFkTotal: raises on orphans and NULL keys; currency tracks BOTH sides") {
    val wh = freshWh()
    wh.writeSwap("parent", Seq((1L, "x"), (2L, "y")).toDF("k", "s"))
    wh.writeSwap("child", Seq((10L, 1L), (11L, 2L), (12L, 1L)).toDF("id", "k"))
    Constraints.verifyFkTotal(wh, "child", Seq("k"), "parent", Seq("k"))
    assert(Constraints.verifiedFkTotal(wh, "child", Seq("k"), "parent", Seq("k")))

    // rewriting the PARENT invalidates too (a shrunk parent may orphan)
    wh.writeSwap("parent", Seq((1L, "x")).toDF("k", "s"))
    assert(!Constraints.verifiedFkTotal(wh, "child", Seq("k"), "parent", Seq("k")))
    intercept[IllegalArgumentException] { // 11 -> 2 is now an orphan
      Constraints.verifyFkTotal(wh, "child", Seq("k"), "parent", Seq("k"))
    }
    wh.writeSwap("childN", Seq((10L, Some(1L)), (11L, None)).toDF("id", "k"))
    intercept[IllegalArgumentException] {
      Constraints.verifyFkTotal(wh, "childN", Seq("k"), "parent", Seq("k"))
    }
  }

  test("lookupJoin/distinctRef: eliminated plans carry no join/shuffle; refusals stay row-identical") {
    val wh = freshWh()
    val reg = new Registry(spark, wh)
    reg.source("src_f", Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 1L, 30L))
      .toDF("id", "k", "v"))
    reg.source("src_d", Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    reg.register(Model("dim", Seq("src_d"), TableMat(),
      ctx => ctx.ref("src_d"),
      postHooks = Seq(Constraints.keyHook(Seq("k")))))
    reg.register(Model("fact", Seq("src_f", "dim"), TableMat(),
      ctx => ctx.ref("src_f"),
      postHooks = Seq(Constraints.fkHook(Seq("k"), "dim"))))
    reg.register(Model("ask", Seq("fact", "dim"), ViewMat,
      ctx => ctx.lookupJoin("fact", "dim", Seq("k"), Seq("id", "v"), "inner")))
    reg.register(Model("askd", Seq("fact"), ViewMat,
      ctx => ctx.distinctRef("fact", Seq("id", "k"))))
    // distinctRef: (id) alone carries no verified key yet -> pays distinct
    reg.register(Model("askKeyed", Seq("fact"), ViewMat,
      ctx => ctx.distinctRef("fact", Seq("k"))))
    reg.run()
    // eliminated: no Join node in the executed plan, rows == real join
    val askPlan = reg.relation("ask").queryExecution.executedPlan.toString
    assert(!askPlan.contains("Join"))
    assert(reg.relation("ask").count() === 3)
    // fact's verified key is (none declared) -> askd pays the distinct;
    // askKeyed asks on (k) which is NOT unique on fact -> also pays, and
    // the result is CORRECT (2 distinct keys, not 3 rows)
    assert(reg.relation("askKeyed").count() === 2)
    val dPlan = reg.relation("askd").queryExecution.executedPlan.toString
    assert(dPlan.contains("Aggregate") || dPlan.contains("Exchange"))

    // distinct elimination on the DIM's verified key: no aggregate at all
    val reg2 = new Registry(spark, wh)
    reg2.register(Model("askdim", Seq("dim"), ViewMat,
      ctx => ctx.distinctRef("dim", Seq("k", "s"))))
    reg2.run()
    val p2 = reg2.relation("askdim").queryExecution.executedPlan.toString
    assert(!p2.contains("Aggregate") && !p2.contains("Exchange"))
    assert(reg2.relation("askdim").count() === 2)
  }

  // ---- join-view IVM -------------------------------------------------

  private val oldO = Seq((1L, 10L), (2L, 11L))
  private val oldL = Seq((1L, 1L, 10L, 100L), (1L, 2L, 11L, 200L),
    (2L, 1L, 11L, 300L))
  private val newO = oldO ++ Seq((3L, 20L))
  private val newL = oldL ++ Seq(
    (3L, 1L, 20L, 400L), // new order x new line: the bilinear term
    (1L, 3L, 21L, 500L)) // old order x new line

  private def odf(rows: Seq[(Long, Long)]) = rows.toDF("okey", "o_cur")
  private def ldf(rows: Seq[(Long, Long, Long, Long)]) =
    rows.toDF("okey", "lineno", "l_cur", "v")

  test("delta rule: maintained view == full recompute; bilinear term counted once") {
    val wh = freshWh()
    wh.writeSwap("a", odf(oldO)); wh.writeSwap("b", ldf(oldL))
    // first call: no cursors -> full join
    val v0 = JoinView.delta(wh, "v", "a", wh.read("a"), "o_cur",
      "b", wh.read("b"), "l_cur", Seq("okey"))
    assert(v0.count() === 3)
    wh.writeSwap("v", v0)
    JoinView.commitCursors(wh, "v", Seq("a" -> "o_cur", "b" -> "l_cur"))
    assert(JoinView.cursors(wh, "v").get === Map("a" -> 11L, "b" -> 11L))

    wh.writeSwap("a", odf(newO)); wh.writeSwap("b", ldf(newL))
    val d = JoinView.delta(wh, "v", "a", wh.read("a"), "o_cur",
      "b", wh.read("b"), "l_cur", Seq("okey"))
    // delta = {(3,1) bilinear, (1,3) old x new} — the bilinear row ONCE
    assert(d.count() === 2)
    val maintained = wh.read("v").unionByName(d)
    val full = odf(newO).join(ldf(newL), Seq("okey"))
    assert(maintained.exceptAll(full).count() === 0)
    assert(full.exceptAll(maintained).count() === 0)
  }

  test("empty dep commits MinValue cursor; NULL cursor raises in-plan; missing dep cursor raises") {
    val wh = freshWh()
    wh.writeSwap("a", odf(Nil)); wh.writeSwap("b", ldf(oldL))
    JoinView.commitCursors(wh, "e", Seq("a" -> "o_cur", "b" -> "l_cur"))
    assert(JoinView.cursors(wh, "e").get("a") === Long.MinValue)
    // every later row classifies as new
    wh.writeSwap("a", odf(oldO))
    val d = JoinView.delta(wh, "e", "a", wh.read("a"), "o_cur",
      "b", wh.read("b"), "l_cur", Seq("okey"))
    assert(d.count() === 3)

    val nullCur = Seq((Some(1L), None: Option[Long])).toDF("okey", "o_cur")
    val ex = intercept[Exception] {
      JoinView.delta(wh, "e", "a", nullCur, "o_cur",
        "b", wh.read("b"), "l_cur", Seq("okey")).collect()
    }
    assert(ex.getMessage.contains("NULL cursor") ||
      Option(ex.getCause).exists(_.getMessage.contains("NULL cursor")))

    intercept[IllegalStateException] {
      JoinView.delta(wh, "e", "zz", wh.read("a"), "o_cur",
        "b", wh.read("b"), "l_cur", Seq("okey"))
    }
  }

  test("crash replay through DeleteInsert sink is idempotent (cursor hook never ran)") {
    val wh = freshWh()
    def mk(o: Seq[(Long, Long)], l: Seq[(Long, Long, Long, Long)],
        withHook: Boolean): Registry = {
      wh.writeSwap("ja", odf(o)); wh.writeSwap("jb", ldf(l))
      val reg = new Registry(spark, wh)
      reg.register(Model("jv", Seq("ja", "jb"),
        IncrementalMat(Incremental.DeleteInsert, Seq("okey", "lineno")),
        ctx => JoinView.delta(wh, "jv", "ja", ctx.ref("ja"), "o_cur",
          "jb", ctx.ref("jb"), "l_cur", Seq("okey")),
        postHooks =
          if (withHook) Seq(JoinView.cursorHook(
            Seq("ja" -> "o_cur", "jb" -> "l_cur")))
          else Nil))
      reg
    }
    mk(oldO, oldL, withHook = true).run()
    // run 2 "crashes" after the DML, before the cursor hook: simulate by
    // running WITHOUT the hook — the delta landed, cursors are stale
    mk(newO, newL, withHook = false).run()
    val afterCrash = wh.read("jv").count()
    // the retry re-derives the SAME window and DeleteInsert replaces it
    // rather than double-appending
    mk(newO, newL, withHook = true).run()
    assert(wh.read("jv").count() === afterCrash)
    val full = odf(newO).join(ldf(newL), Seq("okey"))
    assert(wh.read("jv").exceptAll(full).count() === 0)
    assert(full.exceptAll(wh.read("jv")).count() === 0)
    // and cursors are now advanced: a third run appends nothing
    mk(newO, newL, withHook = true).run()
    assert(wh.read("jv").count() === full.count())
  }

  test("verifyKeyAppend: O(batch) checks, no append on violation, stale precondition raises") {
    val wh = freshWh()
    wh.writeSwap("kd", Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    Constraints.verifyKey(wh, "kd", Seq("k"))
    Constraints.verifyKeyAppend(wh, "kd", Seq("k"), Seq((3L, "c")).toDF("k", "s"))
    assert(wh.read("kd").count() === 3)
    assert(Constraints.verifiedKey(wh, "kd", Seq("k"))) // re-recorded current

    // clash with stored key: raises, nothing appended, constraint current
    intercept[IllegalArgumentException] {
      Constraints.verifyKeyAppend(wh, "kd", Seq("k"), Seq((2L, "x")).toDF("k", "s"))
    }
    assert(wh.read("kd").count() === 3)
    assert(Constraints.verifiedKey(wh, "kd", Seq("k")))
    // batch-internal duplicate and NULL part both raise before any append
    intercept[IllegalArgumentException] {
      Constraints.verifyKeyAppend(wh, "kd", Seq("k"),
        Seq((7L, "x"), (7L, "y")).toDF("k", "s"))
    }
    intercept[IllegalArgumentException] {
      Constraints.verifyKeyAppend(wh, "kd", Seq("k"),
        Seq((Some(8L), "x"), (None, "y")).toDF("k", "s"))
    }
    assert(wh.read("kd").count() === 3)
    // stale precondition: an out-of-band append makes the stored
    // constraint non-current — verifyKeyAppend must refuse to extend it
    wh.append("kd", Seq((9L, "z")).toDF("k", "s"))
    intercept[IllegalArgumentException] {
      Constraints.verifyKeyAppend(wh, "kd", Seq("k"), Seq((10L, "w")).toDF("k", "s"))
    }
  }

  test("eagerAgg == direct on hand vectors: non-unique dim, dropped keys, dim filters") {
    import graft.engine.Rollup
    import graft.engine.Rollup.Want
    val fact = Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 7L))
      .toDF("k", "v") // key 3 has no dim match -> drops on both plans
    val dim = Seq((1L, "a"), (2L, "b"), (2L, "b2")) // key 2 matches TWICE
      .toDF("k", "g")
    val wants = Seq(Want("sv", "sum", "v"), Want("nr", "count", "*"),
      Want("mx", "max", "v"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("g").collect().map(_.toString).toSeq
    val eager = Rollup.eagerAgg(fact, dim, Seq("k"), Seq("g"), wants)
    val naive = Rollup.direct(fact.join(dim, Seq("k")), Seq("g"), wants, Nil)
    assert(rows(eager) === rows(naive))
    // key 2's two dim rows each carry the (5, 1) partial: g=b and g=b2
    // both read sv=5, nr=1
    val m = eager.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2)))).toMap
    assert(m === Map("a" -> ((30L, 2L)), "b" -> ((5L, 1L)), "b2" -> ((5L, 1L))))
    // filters on dim columns apply identically
    val f = Seq(col("g") =!= "b2")
    assert(rows(Rollup.eagerAgg(fact, dim, Seq("k"), Seq("g"), wants, f))
      === rows(Rollup.direct(fact.join(dim, Seq("k")), Seq("g"), wants, f)))
  }

  test("stratified sample: per-stratum bottom-k, merge == rebuild byte-identically, new stratum in batch") {
    import graft.functions.Sketches
    val base = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) "even" else "odd", i * 10L)).toDF("id", "g", "v")
    val s1 = Sketches.stratifiedSampleTable(base, col("id"), Seq("g"), 5)
    // each stratum holds exactly k rows with its own exact n
    val byG = s1.groupBy("g").agg(count(lit(1)).as("c"),
      first("aqp_n").as("n"), first("aqp_k").as("k")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(byG === Map("even" -> ((5L, 20L, 5L)), "odd" -> ((5L, 20L, 5L))))
    // merge == rebuild byte-identically, including a stratum the base
    // never saw (g = "new") whose sample is the batch's own bottom-k
    val batch = ((41L to 60L).map(i =>
      (i, if (i % 2 == 0) "even" else "odd", i * 10L)) ++
      Seq((100L, "new", 1L), (101L, "new", 2L))).toDF("id", "g", "v")
    val merged = Sketches.stratifiedSampleMerge(s1, batch, col("id"), Seq("g"), 5)
    val rebuilt = Sketches.stratifiedSampleTable(base.unionByName(batch),
      col("id"), Seq("g"), 5)
    val cs = rebuilt.columns.sorted.map(col).toIndexedSeq
    assert(merged.select(cs: _*).exceptAll(rebuilt.select(cs: _*)).count() === 0)
    assert(rebuilt.select(cs: _*).exceptAll(merged.select(cs: _*)).count() === 0)
    // the new stratum reads its true (n, k): 2 rows, both sampled
    val newG = rebuilt.filter(col("g") === "new")
      .select("aqp_n", "aqp_k").distinct().collect()
    assert(newG.length === 1 && newG.head.getLong(0) === 2L
      && newG.head.getLong(1) === 2L)
    // strata-less calls must route to the uniform variant
    intercept[IllegalArgumentException] {
      Sketches.stratifiedSampleTable(base, col("id"), Nil, 5)
    }
  }

  test("deltaLeft: null-pad retraction via affected-key recompute; unaffected rows untouched") {
    val wh = freshWh()
    // order 2 has no lines yet (null-padded); order 1 has one
    wh.writeSwap("fa", odf(Seq((1L, 10L), (2L, 11L))))
    wh.writeSwap("fb", ldf(Seq((1L, 1L, 10L, 100L))))
    val v0 = JoinView.deltaLeft(wh, "lv", "fa", wh.read("fa"), "o_cur",
      "fb", wh.read("fb"), "l_cur", Seq("okey"))
    assert(v0.count() === 2 && v0.filter(col("lineno").isNull).count() === 1)
    wh.writeSwap("lv", v0)
    JoinView.commitCursors(wh, "lv", Seq("fa" -> "o_cur", "fb" -> "l_cur"))
    // batch: order 2's first line (retracts its null pad), a second line
    // for order 1 (expands its match set), and a new order 3 with no
    // lines (arrives null-padded)
    wh.writeSwap("fa", odf(Seq((1L, 10L), (2L, 11L), (3L, 20L))))
    wh.writeSwap("fb", ldf(Seq((1L, 1L, 10L, 100L), (2L, 1L, 21L, 200L),
      (1L, 2L, 22L, 300L))))
    val d = JoinView.deltaLeft(wh, "lv", "fa", wh.read("fa"), "o_cur",
      "fb", wh.read("fb"), "l_cur", Seq("okey"))
    // affected = {1 (new line), 2 (first line), 3 (new)} — complete
    // current match sets: 2 rows for order 1, 1 for order 2, null pad
    // for order 3
    assert(d.count() === 4)
    val maintained = Incremental.deleteInsert(wh.read("lv"), d, Seq("okey"))
    val full = odf(Seq((1L, 10L), (2L, 11L), (3L, 20L)))
      .join(ldf(Seq((1L, 1L, 10L, 100L), (2L, 1L, 21L, 200L),
        (1L, 2L, 22L, 300L))), Seq("okey"), "left")
    assert(maintained.exceptAll(full).count() === 0)
    assert(full.exceptAll(maintained).count() === 0)
    // the stale null pad for order 2 is GONE
    assert(maintained.filter(col("okey") === 2L && col("lineno").isNull)
      .count() === 0)
  }

  test("applyCdc: out-of-order seq wins correctly, tombstones block resurrection, batching-invariant, replay no-ops, dup (key,seq) raises") {
    val mk = (rows: Seq[(Long, Long, String, Long)]) =>
      rows.toDF("k", "seq", "op", "v")
    val empty = mk(Nil)
    val b1 = mk(Seq((1L, 1L, "I", 10L), (2L, 1L, "I", 20L)))
    val b2 = mk(Seq((1L, 3L, "U", 11L), (2L, 4L, "D", 0L)))
    val b3 = mk(Seq((2L, 2L, "U", 99L))) // stale pre-delete update
    val t = Seq(b1, b2, b3).foldLeft(empty.toDF())((acc, b) =>
      Incremental.applyCdc(acc, b, Seq("k"), "seq", "op"))
    val live = Incremental.readCdc(t, "seq", "op").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(live === Map(1L -> 11L)) // key 2 stays dead despite the stale U
    assert(t.filter(col("op") === "D").count() === 1)
    // batching invariance
    val oneShot = Incremental.applyCdc(empty,
      b1.unionByName(b2).unionByName(b3), Seq("k"), "seq", "op")
    assert(t.exceptAll(oneShot).count() === 0
      && oneShot.exceptAll(t).count() === 0)
    // replaying an already-applied batch no-ops (crash-retry contract)
    val replay = Incremental.applyCdc(t, b2, Seq("k"), "seq", "op")
    assert(replay.exceptAll(t).count() === 0 && t.exceptAll(replay).count() === 0)
    // same (key, seq), DIFFERENT payload = log corruption -> raises
    val ex = intercept[Exception] {
      Incremental.applyCdc(t, mk(Seq((1L, 3L, "U", 999L))),
        Seq("k"), "seq", "op").collect()
    }
    assert(ex.getMessage.contains("duplicate") ||
      Option(ex.getCause).exists(_.getMessage.contains("duplicate")))
  }

  test("Quarantine.wrap: diverts bad rows with first-failed rule, accumulates across runs, NULL fails") {
    val wh = freshWh()
    import graft.engine.Quarantine
    def run(rows: Seq[(Long, Option[Long])]): Unit = {
      val reg = new Registry(spark, wh)
      reg.source("src", rows.toDF("id", "v"))
      reg.register(Quarantine.wrap(
        Model("q", Seq("src"), IncrementalMat(Incremental.Append, Nil),
          ctx => ctx.ref("src")),
        Seq("v_present" -> col("v").isNotNull,
          "v_nonneg" -> (col("v") >= 0L))))
      reg.run()
    }
    run(Seq((1L, Some(5L)), (2L, None), (3L, Some(-1L))))
    run(Seq((4L, Some(7L)), (5L, None)))
    assert(wh.read("q").count() === 2) // ids 1, 4
    val q = wh.read("q__quarantine").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // NULL fails the FIRST rule it violates (v_present precedes v_nonneg)
    assert(q === Map(2L -> "v_present", 3L -> "v_nonneg", 5L -> "v_present"))
    intercept[IllegalArgumentException] {
      Quarantine.wrap(Model("x", Nil, ViewMat, _ => spark.range(1).toDF()),
        Nil)
    }
  }

  test("per-dep lateness: only the declared side's window re-derives; undeclared dep raises") {
    val wh = freshWh()
    wh.writeSwap("za", odf(Seq((1L, 100L))))
    wh.writeSwap("zb", ldf(Seq((1L, 1L, 50L, 1L))))
    JoinView.commitCursors(wh, "zv", Seq("za" -> "o_cur", "zb" -> "l_cur"),
      Map("zb" -> 10L))
    assert(JoinView.cursors(wh, "zv").get === Map("za" -> 100L, "zb" -> 40L))
    intercept[IllegalArgumentException] {
      JoinView.commitCursors(wh, "zv", Seq("za" -> "o_cur"),
        Map("nosuch" -> 1L))
    }
    intercept[IllegalArgumentException] {
      JoinView.commitCursors(wh, "zv", Seq("za" -> "o_cur"),
        Map("za" -> -1L))
    }
  }

  test("cuboidSizes/latticeAdvisor: exact lattice pricing incl. NULL dim values, HRU greedy hand vector, tie-breaks") {
    import graft.engine.Rollup
    // NULL is a real dim value: cube's grouping_id keeps it distinct
    // from the rolled-up marker, so the (g) cuboid has 3 tuples (a, b,
    // NULL), not 2
    val df = Seq((Some("a"), 1L), (Some("a"), 2L), (Some("b"), 1L),
      (None, 1L)).toDF("g", "h")
    val sizes = Rollup.cuboidSizes(df, Seq("g", "h")).toMap
    assert(sizes === Map(0 -> 1L, 1 -> 3L, 2 -> 2L, 3 -> 4L))

    // hand greedy: top=3 size 100; candidates m1 (size 20), m2 (size
    // 30); workload q=1 w=2 (covered by m1, m3), q=2 w=1 (covered by
    // m2, m3). Round 1: ben(m1)=2*(100-20)=160, ben(m2)=1*70=70 -> m1.
    // Round 2: cost(q=1)=20 now; ben(m2)=70 -> m2.
    val advice = Rollup.latticeAdvisor(
      Seq((1, 20L), (2, 30L), (3, 100L)), 3,
      Seq((1, 2L), (2, 1L)), 2).map(a => a._1 -> ((a._2, a._3, a._4))).toMap
    assert(advice(1) === ((20L, 1, 160L)))
    assert(advice(2) === ((30L, 2, 70L)))
    assert(advice(3) === ((100L, 0, 0L)))
    // tie on benefit -> smaller size wins
    val tie = Rollup.latticeAdvisor(
      Seq((1, 20L), (2, 20L), (3, 100L)), 3, Seq((3, 1L)), 1)
    // neither candidate covers q=3 alone (3 ⊄ 1, 3 ⊄ 2): both benefit
    // 0, smaller size ties, then smaller mask -> mask 1 picked
    assert(tie.find(_._1 == 1).get._3 === 1)
    // budget beyond candidate count just picks them all
    val all = Rollup.latticeAdvisor(
      Seq((1, 20L), (2, 30L), (3, 100L)), 3, Seq((1, 1L)), 5)
    assert(all.count(_._3 > 0) === 2)
  }

  test("partialsMany slices == per-subset partials, NULL dims intact, one shared aggregation") {
    import graft.engine.Rollup
    import graft.engine.Rollup.Measure
    val df = Seq((Some("a"), 1L, 10L), (Some("a"), 2L, 20L),
      (None, 1L, 5L), (Some("b"), 2L, 7L)).toDF("g", "h", "v")
    val meas = Seq(Measure("sum", "v"), Measure("count", "*"))
    val many = Rollup.partialsMany(df, Seq(Seq("g"), Seq("g", "h"),
      Seq("h")), meas)
    many.foreach { case (sub, slice) =>
      val direct = Rollup.partials(df, sub, meas)
      assert(slice.exceptAll(direct).count() === 0, sub)
      assert(direct.exceptAll(slice).count() === 0, sub)
    }
    // the NULL g group survives as a real tuple in the (g) slice
    val gSlice = many.find(_._1 == Seq("g")).get._2
    assert(gSlice.filter(col("g").isNull).select("sum_v").head().getLong(0)
      === 5L)
  }

  test("drop removes derived-knowledge sidecars (stale cursors must not survive their view)") {
    val wh = freshWh()
    wh.writeSwap("ka", odf(oldO)); wh.writeSwap("kb", ldf(oldL))
    wh.writeSwap("kv", odf(oldO).join(ldf(oldL), Seq("okey")))
    JoinView.commitCursors(wh, "kv", Seq("ka" -> "o_cur", "kb" -> "l_cur"))
    Constraints.verifyKey(wh, "ka", Seq("okey"))
    wh.drop("kv"); wh.drop("ka")
    assert(JoinView.cursors(wh, "kv").isEmpty)
    assert(!Constraints.verifiedKey(wh, "ka", Seq("okey")))
  }
}
