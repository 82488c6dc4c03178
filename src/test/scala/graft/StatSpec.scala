package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Features, GenericTests}
import graft.pipeline.{Dedup, Similarity, Stats, TextAnalysis}
import graft.queries.Scratch

/** Hand-computable vectors for the round-9 continuation battery: chi-square
  * cells, autocorrelation, TWAP, k-anonymity, Simpson diversity, RRF
  * fusion, containment pairs, kNN classification.
  */
class StatSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- chiSquareCells ----

  test("chiSquareCells: 2x2 hand computation, exact milli terms") {
    val rows =
      Seq.fill(30)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
        Seq.fill(20)(("y", "p")) ++ Seq.fill(40)(("y", "q"))
    val out = Features.chiSquareCells(rows.toDF("a", "b"), col("a"), col("b"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // N=100, r_x=40 r_y=60, c_p=50 c_q=50; delta = +-1000 everywhere
    assert(out(("x", "p")) === ((30L, 20000L, 5000L)))
    assert(out(("x", "q")) === ((10L, 20000L, 5000L)))
    assert(out(("y", "p")) === ((20L, 30000L, 3333L)))
    assert(out(("y", "q")) === ((40L, 30000L, 3333L)))
  }

  test("chiSquareCells: independent columns give zero terms; NULL is a cell") {
    // perfectly independent 2x2 (counts proportional to marginals)
    val indep =
      Seq.fill(20)(("x", "p")) ++ Seq.fill(20)(("x", "q")) ++
        Seq.fill(20)(("y", "p")) ++ Seq.fill(20)(("y", "q"))
    val terms = Features.chiSquareCells(indep.toDF("a", "b"), col("a"), col("b"))
      .select(col("term_milli")).collect().map(_.getLong(0))
    assert(terms.forall(_ === 0L))
    // NULL category must keep its marginal row (null-safe joins) — and
    // the densified grid now surfaces the UNOBSERVED (NULL, NULL) cell
    // with its own (0 - E)^2/E term (r10: dropping zero cells halved the
    // statistic exactly when association is strongest)
    val withNull = Seq(("x", Some("p")), ("x", None), (null, Some("p")))
      .toDF("a", "b")
    val cells = Features.chiSquareCells(withNull, col("a"), col("b"))
      .collect()
    assert(cells.length === 4)
    assert(cells.forall(r => !r.isNullAt(3) && !r.isNullAt(4)))
    val zeroCell = cells.find(r => r.isNullAt(0) && r.isNullAt(1)).get
    // E = 1*1/3 -> expected_milli 333, term = (0*3 - 1)^2*1000/(3*1*1) = 333
    assert(zeroCell.getLong(2) === 0L && zeroCell.getLong(3) === 333L &&
      zeroCell.getLong(4) === 333L)
  }

  test("chiSquareSummary: dof, milli statistic, Cramér's V; 1xK -> NULL V") {
    val rows =
      Seq.fill(30)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
        Seq.fill(20)(("y", "p")) ++ Seq.fill(40)(("y", "q"))
    val r = Features.chiSquareSummary(rows.toDF("a", "b"), col("a"), col("b"))
      .collect().head
    assert(r.getLong(0) === 100L && r.getLong(1) === 1L)
    assert(r.getLong(2) === 16666L) // 2*5000 + 2*3333 from the cell vectors
    // V = sqrt(16.666/100) ~ 0.408 (phi for the 2x2)
    assert(math.abs(r.getDouble(3) - math.sqrt(16.666 / 100)) < 1e-9)
    val oneRow = Features.chiSquareSummary(
      Seq(("x", "p"), ("x", "q")).toDF("a", "b"), col("a"), col("b"))
      .collect().head
    assert(oneRow.isNullAt(3)) // 1x2 table: min(r-1,c-1) = 0 -> no V
  }

  // ---- autocorr ----

  test("autocorr: linear ramp matches the textbook estimator") {
    val df = (0 until 5).map(i => ("g", i.toLong, (i + 1).toLong))
      .toDF("g", "day", "v")
    val out = Stats.autocorr(df, Seq("g"), col("day"), col("v"), maxLag = 2)
      .collect().map(r => r.getInt(1) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // x = [1..5], mean 3: r1 = 4/10, r2 = -1/10
    assert(out(1) === ((4L, 0.4)))
    assert(out(2) === ((3L, -0.1)))
  }

  test("autocorr: missing days densify to zero; constant series -> NULL") {
    val gap = Seq(("g", 0L, 2L), ("g", 2L, 2L)).toDF("g", "day", "v")
    val r1 = Stats.autocorr(gap, Seq("g"), col("day"), col("v"), maxLag = 1)
      .collect().head
    // dense x = [2, 0, 2]: acf_1 = -2/3 (hand computation in the scaladoc
    // clearing: n=3 S=4 SS=8 P=0 Sh=St=2 -> num=-16, den=24)
    assert(r1.getLong(2) === 2L)
    assert(math.abs(r1.getDouble(3) - (-2.0 / 3.0)) < 1e-15)
    val const = Seq(("g", 0L, 7L), ("g", 1L, 7L), ("g", 2L, 7L))
      .toDF("g", "day", "v")
    val cr = Stats.autocorr(const, Seq("g"), col("day"), col("v"), maxLag = 1)
      .collect().head
    assert(cr.isNullAt(3)) // zero variance -> undefined, not NaN
  }

  // ---- twap ----

  test("twap: duration-weighted, terminal sample excluded, exact micro") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 00:00:30")
    val df = Seq(("a", t0, 1L, 1000L), ("a", t1, 2L, 3000L), ("a", t2, 3L, 0L))
      .toDF("g", "ts", "id", "vm")
    val r = Stats.twap(df, Seq("g"), col("ts"), col("id"), col("vm"))
      .collect().head
    // (1e7us * 1000 + 2e7us * 3000) * 1000 / 3e7us = 2333333 (floor)
    assert(r.getLong(1) === 2L)
    assert(r.getLong(2) === 30000000L)
    assert(r.getLong(3) === 2333333L)
  }

  test("twap: all samples at one instant -> zero duration -> NULL") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val df = Seq(("a", t0, 1L, 10L), ("a", t0, 2L, 20L)).toDF("g", "ts", "id", "vm")
    val r = Stats.twap(df, Seq("g"), col("ts"), col("id"), col("vm"))
      .collect().head
    assert(r.getLong(2) === 0L)
    assert(r.isNullAt(3))
  }

  // ---- interpolatedQuantiles ----

  test("interpolatedQuantiles: hand vectors and parity with percentile_cont") {
    val two = Seq(("g", 10L), ("g", 20L)).toDF("g", "v")
    val r = Stats.interpolatedQuantiles(two, Seq("g"), col("v"), Seq(500, 0, 1000))
      .collect().map(x => x.getInt(1) -> x.getLong(3)).toMap
    assert(r(500) === 15000000L)  // midpoint of [10, 20]
    assert(r(0) === 10000000L)
    assert(r(1000) === 20000000L)
    // duplicates straddling an index interpolate within the run (hi == lo)
    val dup = Seq(("g", 5L), ("g", 5L), ("g", 9L)).toDF("g", "v")
    val rd = Stats.interpolatedQuantiles(dup, Seq("g"), col("v"), Seq(250))
      .collect().head
    assert(rd.getLong(3) === 5000000L) // p=0.5 lands inside the 5-run
    // micro/1e6 equals the builtin percentile_cont on a bigger fixture
    val big = (1L to 97L).map(i => ("g", (i * 13) % 89)).toDF("g", "v")
    val mine = Stats.interpolatedQuantiles(big, Seq("g"), col("v"),
      Seq(250, 500, 750, 990))
      .collect().map(x => x.getInt(1) -> x.getLong(3) / 1e6).toMap
    val builtin = big.groupBy(col("g")).agg(
      expr("percentile(v, array(0.25, 0.5, 0.75, 0.99))").as("p"))
      .collect().head.getSeq[Double](1)
    assert(math.abs(mine(250) - builtin(0)) < 1e-6)
    assert(math.abs(mine(500) - builtin(1)) < 1e-6)
    assert(math.abs(mine(750) - builtin(2)) < 1e-6)
    assert(math.abs(mine(990) - builtin(3)) < 1e-6)
  }

  // ---- kAnonymity ----

  test("kAnonymity: groups below k flagged; NULL QI forms its own group") {
    val df = (Seq(("s1", Some(1)), ("s1", Some(1)), ("s1", Some(1))) ++
      Seq(("s2", Some(2)), ("s2", Some(2))) ++
      Seq(("s3", None))).toDF("seg", "nat")
    val out = GenericTests.kAnonymity(df, Seq("seg", "nat"), k = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out("s1") === ((3L, false)))
    assert(out("s2") === ((2L, true)))
    assert(out("s3") === ((1L, true))) // NULL nation still a combination
    intercept[IllegalArgumentException] {
      GenericTests.kAnonymity(df, Seq("seg"), k = 1)
    }
  }

  // ---- tokenDiversity ----

  test("tokenDiversity: exact ppm; single-token and NULL contracts") {
    val docs = Seq((1L, "a a b"), (2L, "a"), (3L, "a a a"), (4L, null))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tokenDiversity(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(out(1L) === ((3L, 2L, Some(333333L)))) // 2*1e6/(3*2)
    assert(out(2L) === ((1L, 1L, None)))          // no pair to draw
    assert(out(3L) === ((3L, 1L, Some(1000000L)))) // pure repetition
    assert(!out.contains(4L))                      // NULL text dropped
  }

  // ---- rrfFuse ----

  test("rrfFuse: exact micro contributions, absence contributes zero") {
    val l1 = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("query_id", "neighbor_id", "rank")
    val l2 = Seq((1L, 20L, 1), (1L, 30L, 2)).toDF("query_id", "neighbor_id", "rank")
    val out = Similarity.rrfFuse(Seq(l1, l2), k = 3)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    // 1e6 div 61 = 16393, 1e6 div 62 = 16129
    assert(out(20L) === ((16393L + 16129L, 2L, 1))) // in both lists -> top
    assert(out(10L) === ((16393L, 1L, 2)))
    assert(out(30L) === ((16129L, 1L, 3)))
    // k truncates the fused list
    assert(Similarity.rrfFuse(Seq(l1, l2), k = 1).count() === 1L)
  }

  // ---- containmentPairs ----

  test("containmentPairs: catches the embedded doc Jaccard misses") {
    val short = "w1 w2 w3 w4"                          // 2 shingles
    val long = "w1 w2 w3 w4 w5 w6 w7 w8"               // 6 shingles
    val docs = Seq((1L, short, "b"), (2L, long, "b"), (3L, "z1 z2 z3 z4", "b"))
      .toDF("doc_id", "text", "block")
    val cont = Dedup.containmentPairs(docs, "block", n = 3, threshold = 0.9)
      .collect()
    assert(cont.length === 1)
    assert(cont.head.getLong(1) === 1L && cont.head.getLong(2) === 2L)
    assert(cont.head.getDouble(5) === 1.0) // both of short's shingles embed
    // the same pair's Jaccard is 2/6 — invisible to the symmetric dedup
    val jac = Dedup.ngramJaccardPairs(docs, "block", n = 3, threshold = 0.5)
    assert(jac.count() === 0L)
  }

  test("containmentPairs: prefix filter is exact vs the naive cross join") {
    // fixture with overlapping windows of a shared vocab so prefixes vary
    val words = (0 until 12).map(i => s"t$i")
    val docs = (0 until 8).map { i =>
      val len = 4 + (i * 3) % 6
      (i.toLong, words.slice(i % 5, (i % 5) + len).mkString(" "), "b")
    }.toDF("doc_id", "text", "block")
    val got = Dedup.containmentPairs(docs, "block", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // naive truth: every pair, exact containment, same shingle recipe
    val sh = docs.collect().map { r =>
      val toks = r.getString(1).split(" ", -1)
      val set =
        if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
        else Set(r.getString(1))
      r.getLong(0) -> set
    }.toMap
    val want = (for {
      a <- sh.keys; b <- sh.keys if a < b
      inter = sh(a).intersect(sh(b)).size
      if inter.toDouble / math.min(sh(a).size, sh(b).size) >= 0.5
    } yield (a, b)).toSet
    assert(got === want)
    assert(want.nonEmpty) // the fixture actually exercises the filter
  }

  // ---- locf ----

  test("locf: carries last non-null forward; pre-first rows stay NULL") {
    val df = Seq(("g", 1L, 1L, Option.empty[Long]), ("g", 2L, 2L, Some(10L)),
      ("g", 3L, 3L, None), ("g", 4L, 4L, Some(20L)), ("g", 5L, 5L, None),
      ("h", 1L, 1L, None)).toDF("g", "o", "t", "v")
    val out = Stats.locf(df, Seq("g"), col("o"), col("t"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        Option(r.get(4)).map(_.asInstanceOf[Long])).toMap
    assert(out(("g", 1L)) === None)      // nothing observed yet
    assert(out(("g", 2L)) === Some(10L))
    assert(out(("g", 3L)) === Some(10L)) // carried
    assert(out(("g", 4L)) === Some(20L)) // replaced
    assert(out(("g", 5L)) === Some(20L))
    assert(out(("h", 1L)) === None)      // groups independent
  }

  // ---- rollingCorr ----

  test("rollingCorr: perfect correlation, gap exclusion, zero variance NULL") {
    // y = 2x on days 0..3; day 10 isolated (window of 1); constant tail
    val daily = Seq(
      ("g", 0L, 1L, 2L), ("g", 1L, 2L, 4L), ("g", 2L, 3L, 6L), ("g", 3L, 4L, 8L),
      ("g", 10L, 5L, 1L),
      ("g", 20L, 7L, 3L), ("g", 21L, 7L, 5L)).toDF("g", "day", "x", "y")
    val out = Features.rollingCorr(daily, Seq("g"), col("day"), col("x"),
      col("y"), windowDays = 7)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    assert(out(3L)._1 === 4L)
    assert(out(3L)._2.exists(c => math.abs(c - 1.0) < 1e-12)) // y = 2x
    assert(out(10L) === ((1L, None)))  // RANGE frame: the gap isolated it
    assert(out(21L)._1 === 2L)
    assert(out(21L)._2 === None)       // x constant in window -> NULL
  }

  // ---- standardize ----

  test("standardize: exact-moment z-scores; singleton and constant NULL") {
    val df = Seq(("a", 10L), ("a", 20L), ("a", 30L), ("b", 5L),
      ("c", 7L), ("c", 7L)).toDF("g", "v")
    val out = Features.standardize(df, Seq("g"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    // group a: mean 20, sample sd 10 -> z = -1, 0, 1
    assert(out(("a", 10L)).exists(z => math.abs(z + 1.0) < 1e-12))
    assert(out(("a", 20L)).exists(z => math.abs(z) < 1e-12))
    assert(out(("a", 30L)).exists(z => math.abs(z - 1.0) < 1e-12))
    assert(out(("b", 5L)) === None)  // singleton: no sample variance
    assert(out(("c", 7L)) === None)  // constant group
  }

  // ---- clusteringCoefficients ----

  test("clusteringCoefficients: triangle 1.0, star center 0, pendant NULL") {
    import graft.operators.Graph
    // triangle 1-2-3, star center 4 -> leaves 5,6 (no leaf-leaf edge),
    // pendant 7 hanging off 1
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (4L, 6L), (1L, 7L))
      .toDF("a", "b")
    val out = Graph.clusteringCoefficients(edges, "a", "b")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(out(2L) === ((1L, 2L, Some(1000000L)))) // closed wedge
    assert(out(1L) === ((1L, 3L, Some(333333L))))  // 1 triangle of 3 wedges
    assert(out(4L) === ((0L, 2L, Some(0L))))       // open star
    assert(out(7L) === ((0L, 1L, None)))           // degree 1: no wedge
  }

  // ---- basketPairs ----

  test("basketPairs: exact lift, support filter, oversized-basket guard") {
    // baskets: {A,B} x3, {A,C}, {B,C}, and one giant basket that must drop
    val rows =
      Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"), (3L, "A"), (3L, "B"),
        (4L, "A"), (4L, "C"), (5L, "B"), (5L, "C"),
        (1L, "A")) ++ // duplicate line: presence counts once
        (1 to 50).map(i => (99L, s"x$i"))
    val df = rows.toDF("basket", "item")
    val out = Features.basketPairs(df, col("basket"), col("item"),
      minSupport = 2, maxBasketSize = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(5)))).toMap
    // 5 kept baskets; A in 4, B in 4, AB in 3 -> lift = 3*5*1000/(4*4) = 937
    assert(out === Map(("A", "B") -> ((3L, 937L))))
    // the giant basket contributed nothing (guard drops it pre-join)
    assert(!out.keys.exists(_._1.startsWith("x")))
  }

  // ---- embeddingDrift ----

  test("embeddingDrift: identical slices cos 1, rotation drops, vanished label NULL") {
    def v(x: Float, y: Float) = Array(x, y)
    val ref = Seq(
      (1L, v(1f, 0f), 0), (2L, v(1f, 0.2f), 0),
      (3L, v(0f, 1f), 1), (4L, v(0.2f, 1f), 1),
      (5L, v(1f, 1f), 2)
    ).toDF("vec_id", "embedding", "label")
    // label 0 unchanged, label 1 rotated to the x axis, label 2 absent
    val live = Seq(
      (11L, v(1f, 0f), 0), (12L, v(1f, 0.2f), 0),
      (13L, v(1f, 0f), 1), (14L, v(1f, 0.2f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = GenericTests.embeddingDrift(ref, live, "label", "embedding")
      .collect().map(r => r.getInt(0) -> Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    // same sum vector -> 1 up to the deterministic sqrt rounding (the
    // value itself is still bit-stable and oracle-hash-comparable)
    assert(out(0).exists(c => math.abs(c - 1.0) < 1e-12))
    assert(out(1).exists(c => c > 0 && c < 0.3)) // near-orthogonal rotation
    assert(out(2) === None) // vanished label -> NULL, never a fake 0
  }

  // ---- damerauLevenshtein ----

  test("damerauLevenshtein: textbook vectors, true-DL not OSA, codegen==interpreted") {
    import graft.plans.{DamerauLevenshtein, DamerauLevenshteinKernel, Expressions}
    def k(a: String, b: String) =
      DamerauLevenshteinKernel.distance(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
    assert(k("", "") === 0)
    assert(k("", "abc") === 3)
    assert(k("abc", "") === 3)
    assert(k("kitten", "sitting") === 3)
    assert(k("ab", "ba") === 1)      // one transposition, not two edits
    assert(k("abcd", "acbd") === 1)
    assert(k("CA", "ABC") === 2)     // TRUE DL; restricted OSA would say 3
    assert(k("ca", "abc") === 2)
    assert(k("same", "same") === 0)
    // codegen path == interpreted kernel on a randomized sweep
    val pairs = (0 until 200).map { i =>
      val a = s"part-${i % 17}-name-${(i * 7) % 31}"
      val b = if (i % 3 == 0) a.reverse else s"part-${(i + 1) % 13}-nmae-$i"
      (a, b)
    }.toDF("a", "b")
    val viaExpr = pairs
      .select(col("a"), col("b"),
        Expressions.damerauLevenshtein(col("a"), col("b")).as("d"))
      .collect()
    viaExpr.foreach { r =>
      assert(r.getInt(2) === k(r.getString(0), r.getString(1)))
    }
    // NULL propagates
    val n = Seq((Some("x"), Option.empty[String])).toDF("a", "b")
      .select(Expressions.damerauLevenshtein(col("a"), col("b"))).collect().head
    assert(n.isNullAt(0))
    // SQL function surface, installed by the session factory
    assert(spark.sql("SELECT graft_damerau('ab', 'ba')")
      .collect().head.getInt(0) === 1)
  }

  test("DamerauLengthPrune: derived length check, soundness, idempotence") {
    import graft.plans.Expressions
    // file source keeps the Filter node alive (a LocalRelation would be
    // fully evaluated at optimize time — the JW-rule spec's lesson)
    val dir = Scratch.tempDir("graft_dlprune").toString
    Seq(("abcd", "acbd"), ("abcd", "abcdefgh"), ("x", "xy"),
      ("same", "same"), ("abc", "zzzzzzzzz")).toDF("a", "b")
      .write.mode("overwrite").parquet(dir)
    val filtered = spark.read.parquet(dir).filter(
      Expressions.damerauLevenshtein(col("a"), col("b")) <= 2)
    // the optimizer prepended the implied |len(a)-len(b)| <= 2 conjunct
    val opt = filtered.queryExecution.optimizedPlan.toString
    assert(opt.contains("abs(") && opt.contains("length("),
      s"derived length prefilter missing:\n$opt")
    // soundness: exactly the rows the raw kernel accepts
    val got = filtered.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("abcd", "acbd"), ("x", "xy"), ("same", "same")))
    // idempotence: one derived conjunct, not one per optimizer pass
    assert("abs\\(".r.findAllIn(opt).length === 1, opt)
  }

  // ---- knnClassify ----

  test("knnClassify: plurality vote with min-label tie-break") {
    def v(x: Float, y: Float) = Array(x, y)
    val corpus = Seq(
      (10L, v(1f, 0.00f), 7), (11L, v(1f, 0.01f), 7), (12L, v(1f, 0.02f), 7),
      (20L, v(0f, 1.00f), 3), (21L, v(0.01f, 1f), 3), (22L, v(0.02f, 1f), 3)
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq((1L, v(0.99f, 0.05f), -1)).toDF("vec_id", "embedding", "label")
    val r = Similarity.knnClassify(corpus, queries, k = 3).collect().head
    assert(r.getLong(0) === 1L && r.getLong(1) === 7L && r.getLong(2) === 3L)
    // 2-2 vote split at k=4 -> the smaller label wins
    val r4 = Similarity.knnClassify(corpus,
      Seq((2L, v(1f, 1f), -1)).toDF("vec_id", "embedding", "label"), k = 4)
      .collect().head
    assert(r4.getLong(1) === 3L && r4.getLong(2) === 2L)
  }

  test("relationFingerprint: order/partition-invariant, value- and dup-sensitive") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, null)).toDF("id", "v")
    val cols = Seq("id", "v")
    def fp(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = GenericTests.relationFingerprint(df, cols).collect().head
      (r.getLong(0), r.getLong(1))
    }
    val f0 = fp(base)
    assert(f0._1 === 3L)
    // multiset identity is all that matters: reversed order, different
    // partitioning, same fingerprint
    assert(fp(base.orderBy(col("id").desc).repartition(7)) === f0)
    // any changed cell moves it
    assert(fp(Seq((1L, "a"), (2L, "B"), (3L, null)).toDF("id", "v")) !== f0)
    // NULL is distinct from empty string (the chr(1) marker)
    assert(fp(Seq((1L, "a"), (2L, "b"), (3L, "")).toDF("id", "v")) !== f0)
    // a duplicated row changes n_rows even though XOR alone would cancel
    val dup = fp(base.union(Seq((1L, "a")).toDF("id", "v")))
    assert(dup._1 === 4L)
    assert(dup !== f0)
    // grouped variant: per-group rows, group column carried
    val g = GenericTests.relationFingerprint(
      Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "g"),
      Seq("id", "g"), groupCols = Seq("g"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g === Map("x" -> 2L, "y" -> 1L))
    intercept[IllegalArgumentException](
      GenericTests.relationFingerprint(base, Nil))
  }

  test("componentSplit: randomized leak-free invariant on arbitrary graphs") {
    import scala.util.Random
    (1 to 5).foreach { seed =>
      val rnd = new Random(700 + seed)
      val nDocs = 20 + rnd.nextInt(60)
      val docs = (1L to nDocs.toLong).toDF("doc_id")
      val pairs = Seq.fill(rnd.nextInt(40))(
        (1L + rnd.nextInt(nDocs), 1L + rnd.nextInt(nDocs)))
        .filter(p => p._1 != p._2).toDF("id_a", "id_b")
      val out = Dedup.componentSplit(docs, col("doc_id"), pairs,
        heldoutPpm = 300000L, salt = s"s$seed")
      assert(out.count() === nDocs.toLong, s"coverage seed $seed")
      assert(Dedup.splitLeakage(pairs, out.select(col("doc_id"), col("split")))
        .count() === 0L, s"leak seed $seed")
      // cluster labels are min-ids: every cluster contains its own label
      val byCluster = out.collect()
        .groupBy(_.getLong(1)).map { case (cl, rows) => cl -> rows.map(_.getLong(0)).toSet }
      byCluster.foreach { case (cl, ids) =>
        assert(ids.contains(cl) && ids.min === cl, s"label seed $seed") }
    }
  }

  test("hardNegatives: randomized parity with a driver-side reference") {
    import scala.util.Random
    val rnd = new Random(711)
    val dim = 4
    val vecs = (0L until 40L).map { id =>
      (id, Array.fill(dim)((rnd.nextInt(2001) - 1000) / 1000.0f), rnd.nextInt(3))
    }
    val df = vecs.toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(df, df.filter(col("vec_id") < 5), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(4)) -> r.getLong(1)).toMap
    // reference: quantized cosine, label filter, (score desc, id asc)
    def q(v: Array[Float]): Array[Long] = v.map(x => math.floor(x * 1000 + 0.5).toLong)
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      d / (math.sqrt(a.map(x => x * x).sum.toDouble) * math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    vecs.filter(_._1 < 5).foreach { case (aid, av, al) =>
      val expect = vecs.filter(v => v._3 != al)
        .map(v => (v._1, cos(q(av), q(v._2))))
        .sortBy { case (id, sc) => (-sc, id) }.take(3)
      expect.zipWithIndex.foreach { case ((nid, _), i) =>
        assert(got((aid, i + 1)) === nid, s"anchor $aid rank ${i + 1}") }
    }
  }

  // ---- holtBacktest ----

  test("holtBacktest: constant series forecasts itself — zero error everywhere") {
    val df = (0L to 3L).map(d => ("g", d, 10L)).toDF("grp", "day", "y")
    val r = Stats.holtBacktest(df, Seq("grp"), col("day"), col("y"),
      alphaNum = 1, alphaDen = 2, betaNum = 1, betaDen = 2).collect()(0)
    assert(r.getAs[Long]("n_evals") === 3L)
    assert(r.getAs[Long]("err_abs_sum_micro") === 0L)
    assert(r.getAs[Long]("err_sum_micro") === 0L)
    assert(r.getAs[Long]("mae_micro") === 0L)
    assert(r.getAs[Long]("wape_ppm") === 0L)
  }

  test("holtBacktest: linear ramp — hand-folded lagging forecasts, exact sums") {
    // alpha=beta=1/2 over y=[0,10,20,30]: forecasts for days 1..3 are
    // 0, 7.5e6, 19.375e6 against actuals 10e6, 20e6, 30e6
    val df = (0L to 3L).map(d => ("g", d, 10L * d)).toDF("grp", "day", "y")
    val r = Stats.holtBacktest(df, Seq("grp"), col("day"), col("y"),
      alphaNum = 1, alphaDen = 2, betaNum = 1, betaDen = 2).collect()(0)
    assert(r.getAs[Long]("n_evals") === 3L)
    assert(r.getAs[Long]("err_abs_sum_micro") === 33125000L)
    assert(r.getAs[Long]("err_sum_micro") === -33125000L)
    assert(r.getAs[Long]("mae_micro") === 11041666L)
    assert(r.getAs[Long]("wape_ppm") === 552083L) // 33.125e6*1e6 div 60e6
  }

  // ---- quantileNormalize ----

  test("quantileNormalize: both groups land on the pooled marginal") {
    val df = (Seq(1L, 2L, 3L, 4L).map(("A", _)) ++
      Seq(10L, 20L, 30L, 40L).map(("B", _))).toDF("g", "v")
    val out = Stats.quantileNormalize(df, Seq("g"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    // midpoint rank scaling: ranks 1..4 of 4 -> pooled indices 1,3,5,7
    assert(out(("A", 1L)) === 2L && out(("A", 2L)) === 4L)
    assert(out(("A", 3L)) === 20L && out(("A", 4L)) === 40L)
    assert(out(("B", 10L)) === 2L && out(("B", 20L)) === 4L)
    assert(out(("B", 30L)) === 20L && out(("B", 40L)) === 40L)
  }

  test("quantileNormalize: tied blocks map by doubled midrank, cnt preserved") {
    val df = Seq(("A", 1L), ("A", 1L), ("B", 7L)).toDF("g", "v")
    val out = Stats.quantileNormalize(df, Seq("g"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(("A", 1L)) === ((2L, 1L))) // block of 2, midrank -> pooled[1]=1
    assert(out(("B", 7L)) === ((1L, 1L)))
  }

  // ---- benfordAudit ----

  test("benfordAudit: all-ones corpus — exact chi contributions, starved digits kept") {
    val df = Seq.fill(600)(1L).toDF("u")
    val out = Stats.benfordAudit(df, col("u"))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.size === 9)
    // digit 1: n=600, x = 600e6 - 301030*600; x^2 div (301030*600*1e6) = 973
    assert(out(1) === ((600L, 301030L, 1000000L, 973L)))
    // starved digits still appear with their full expected-count penalty
    assert(out(4) === ((0L, 96910L, 0L, 58L)))
    assert(out(9) === ((0L, 45757L, 0L, 27L)))
  }

  test("benfordAudit: digit extraction in integer units; <=0 and NULL excluded") {
    val df = Seq[Option[Long]](Some(15L), Some(2L), Some(-3L), Some(0L),
      None, Some(900L)).toDF("u")
    val out = Stats.benfordAudit(df, col("u"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(out(1) === ((1L, 333333L)))
    assert(out(2) === ((1L, 333333L)))
    assert(out(9) === ((1L, 333333L)))
    Seq(3, 4, 5, 6, 7, 8).foreach(d => assert(out(d)._1 === 0L, s"digit $d"))
  }

  // ---- mannKendallDaily ----

  test("mannKendallDaily: hand-computed S, tie-corrected var18, lower-median Sen slope") {
    val df = Seq(("g", 0L, 1L), ("g", 1L, 2L), ("g", 2L, 2L), ("g", 3L, 4L),
      ("g", 4L, 3L)).toDF("grp", "day", "y")
    val r = Stats.mannKendallDaily(df, Seq("grp"), col("day"), col("y"))
      .collect().head
    assert(r.getAs[Long]("n_days") === 5L)
    assert(r.getAs[Long]("s_stat") === 7L)
    // 5*4*15 - 2*1*9 (one tied pair at y=2)
    assert(r.getAs[Long]("var18") === 282L)
    assert(r.getAs[Boolean]("significant") === false)
    // 10 slopes sorted: [-1e6,0,333333,5e5,5e5,5e5,1e6,1e6,1e6,2e6]; rank-5
    assert(r.getAs[Long]("sen_slope_ppm") === 500000L)
  }

  test("mannKendallDaily: strict monotone series is significant; per-group independence") {
    val up = (0L until 10L).map(i => ("up", i, 5L * i))
    val flat = (0L until 10L).map(i => ("flat", i, 42L))
    val out = Stats.mannKendallDaily((up ++ flat).toDF("grp", "day", "y"),
      Seq("grp"), col("day"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("up").getAs[Long]("s_stat") === 45L)
    assert(out("up").getAs[Long]("var18") === 2250L)
    assert(out("up").getAs[Boolean]("significant") === true)
    assert(out("up").getAs[Long]("sen_slope_ppm") === 5000000L)
    assert(out("flat").getAs[Long]("s_stat") === 0L)
    assert(out("flat").getAs[Boolean]("significant") === false)
    assert(out("flat").getAs[Long]("sen_slope_ppm") === 0L)
  }

  test("mannKendallDaily: maxDays guard raises before the quadratic pair fan-out") {
    // a timestamp-grain mis-call = many distinct "days" in one group;
    // the guard must fail loud at the daily rollup, not go O(d^2)
    val df = (0L until 20L).map(i => ("g", i, i)).toDF("grp", "day", "y")
    val e = intercept[Exception] {
      Stats.mannKendallDaily(df, Seq("grp"), col("day"), col("y"),
        maxDays = 10L).collect()
    }
    assert(e.getMessage.contains("mannKendallDaily exceeded 10"))
    // at exactly maxDays the run is legal
    val ok = Stats.mannKendallDaily(df, Seq("grp"), col("day"), col("y"),
      maxDays = 20L).collect().head
    assert(ok.getAs[Long]("n_days") === 20L)
  }

  // ---- seasonalDecompose ----

  test("seasonalDecompose: pure trend -> zero seasonal; planted weekly shape recovered") {
    // linear series, period 3: trend = y, everything else exactly 0
    val lin = (0L to 4L).map(i => ("g", i, 3L * (i + 1))).toDF("g", "day", "y")
    val lr = Stats.seasonalDecompose(lin, Seq("g"), col("day"), col("y"),
      period = 3).collect().sortBy(_.getAs[Long]("day"))
    assert(lr.map(_.getAs[Long]("day")).toSeq === Seq(1L, 2L, 3L))
    assert(lr.forall(r => r.getAs[Long]("trend_milli") ===
      r.getAs[Long]("y") * 1000L))
    assert(lr.forall(_.getAs[Long]("seasonal_milli") === 0L))
    assert(lr.forall(_.getAs[Long]("residual_milli") === 0L))
    // planted phase shape 10/20/30 repeating: flat trend 20000, seasonal
    // exactly {-10000, 0, +10000} by phase, residual 0 (negative seasonal
    // pins the sign-wrapped division)
    val ys = Seq(10L, 20L, 30L, 10L, 20L, 30L, 10L)
    val per = ys.zipWithIndex.map { case (y, i) => ("g", i.toLong, y) }
      .toDF("g", "day", "y")
    val pr = Stats.seasonalDecompose(per, Seq("g"), col("day"), col("y"),
      period = 3).collect().sortBy(_.getAs[Long]("day"))
    assert(pr.map(_.getAs[Long]("day")).toSeq === (1L to 5L))
    assert(pr.forall(_.getAs[Long]("trend_milli") === 20000L))
    val byPhase = pr.map(r => (r.getAs[Long]("day") % 3L) ->
      r.getAs[Long]("seasonal_milli")).toMap
    assert(byPhase === Map(0L -> -10000L, 1L -> 0L, 2L -> 10000L))
    assert(pr.forall(_.getAs[Long]("residual_milli") === 0L))
    // negative input fails loud (truncating trend division contract)
    val neg = Seq(("g", 0L, -1L), ("g", 1L, 2L), ("g", 2L, 3L))
      .toDF("g", "day", "y")
    val e = intercept[Exception] {
      Stats.seasonalDecompose(neg, Seq("g"), col("day"), col("y"),
        period = 3).collect()
    }
    assert(e.getMessage.contains("non-negative"))
  }

  // ---- pChart ----

  test("pChart: hand 3-sigma limits flag exactly the shifted day") {
    // days: 1/10, 9/10, 2/10 -> pbar = 12/30 = 0.4 (400000 ppm);
    // sigma = sqrt(.4*.6/10), ucl ~ 0.8648 -> only day 2 (0.9) flags
    val rows = (1 to 10).map(i => ("g", 1L, i <= 1)) ++
      (1 to 10).map(i => ("g", 2L, i <= 9)) ++
      (1 to 10).map(i => ("g", 3L, i <= 2))
    val out = Stats.pChart(rows.toDF("g", "day", "defect"), Seq("g"),
      col("day"), col("defect"))
      .collect().map(r => r.getAs[Long]("day") -> r).toMap
    assert(out.values.forall(_.getAs[Long]("pbar_ppm") === 400000L))
    assert(out(1L).getAs[Long]("phat_ppm") === 100000L)
    assert(out(2L).getAs[Long]("phat_ppm") === 900000L)
    val wantUcl = 0.4 + 3.0 * math.sqrt(0.4 * (1.0 - 0.4) / 10.0)
    assert(math.abs(out(2L).getAs[Double]("ucl") - wantUcl) < 1e-15)
    assert(out(2L).getAs[Boolean]("out_of_control") === true)
    assert(out(1L).getAs[Boolean]("out_of_control") === false)
    assert(out(3L).getAs[Boolean]("out_of_control") === false)
    // lcl below zero can never flag a day with zero defects
    val calm = ((1 to 10).map(i => ("g", 1L, i <= 4)) ++
      (1 to 10).map(_ => ("g", 2L, false))).toDF("g", "day", "defect")
    val cr = Stats.pChart(calm, Seq("g"), col("day"), col("defect"))
      .collect().map(r => r.getAs[Long]("day") -> r).toMap
    // pbar = 0.2, sigma = sqrt(.2*.8/10) ~ .1265 -> lcl < 0: day 2
    // (0/10) sits above the negative lcl -> in control
    assert(cr(2L).getAs[Boolean]("out_of_control") === false)
  }

  // ---- dispersionIndex ----

  test("dispersionIndex: hand moments, burst flag, gap densify, raise") {
    // [1,2,3]: disp = (n-1)s^2/mean = 1.0 -> 1000 milli, not flagged
    val even = Seq(("g", 0L, 1L), ("g", 1L, 2L), ("g", 2L, 3L))
      .toDF("g", "day", "c")
    val r = Stats.dispersionIndex(even, Seq("g"), col("day"), col("c"))
      .collect()(0)
    assert(r.getAs[Long]("n_days") === 3L && r.getAs[Long]("total") === 6L)
    assert(r.getAs[Long]("mean_milli") === 2000L)
    assert(r.getAs[Long]("dispersion_milli") === 1000L)
    assert(r.getAs[Boolean]("overdispersed") === false)
    // [6,0,0]: D = 12 >> chi2 bound (2 + 3*sqrt(4) = 8) -> flagged
    val burst = Seq(("g", 0L, 6L), ("g", 1L, 0L), ("g", 2L, 0L))
      .toDF("g", "day", "c")
    val b = Stats.dispersionIndex(burst, Seq("g"), col("day"), col("c"))
      .collect()(0)
    assert(b.getAs[Long]("dispersion_milli") === 12000L)
    assert(b.getAs[Boolean]("overdispersed") === true)
    // missing days densify to zero counts: {0: 3, 2: 3} -> [3,0,3], D = 3
    val gap = Seq(("g", 0L, 3L), ("g", 2L, 3L)).toDF("g", "day", "c")
    val gr = Stats.dispersionIndex(gap, Seq("g"), col("day"), col("c"))
      .collect()(0)
    assert(gr.getAs[Long]("n_days") === 3L)
    assert(gr.getAs[Long]("dispersion_milli") === 3000L)
    // negative counts fail loud
    val neg = Seq(("g", 0L, -1L), ("g", 1L, 2L)).toDF("g", "day", "c")
    val e = intercept[Exception] {
      Stats.dispersionIndex(neg, Seq("g"), col("day"), col("c")).collect()
    }
    assert(e.getMessage.contains("non-negative"))
  }
}
