package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Features
import graft.queries.Scratch

/** Feature-engineering operators on hand-computable fixtures: RFM boundary
  * scoring, leave-one-out/smoothed target encoding, exact-moment
  * correlation, and closed-form OLS.
  */
class FeatureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- rfm ----

  test("rfm: boundary scoring is deterministic and tie-stable") {
    // 10 customers, one order each on day (2024-01-01 + i), amount 100*(i+1)
    val orders = (0 until 10).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
        100.0 * (i + 1))
    }.toDF("cust", "odate", "amt")
    val out = Features.rfm(orders, "cust", "odate", "amt")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(4), r.getInt(5), r.getInt(6), r.getString(7)))).toMap
    // customer 9 ordered last (recency 0) with the largest amount -> r=5, m=5
    assert(out(9L)._1 === 0L)
    assert(out(9L)._2 === 5 && out(9L)._4 === 5)
    // customer 0 is the stalest and smallest -> r=1, m=1
    assert(out(0L)._1 === 9L)
    assert(out(0L)._2 === 1 && out(0L)._4 === 1)
    // every customer has frequency 1 -> all f_scores identical (tie-stable:
    // with one distinct value every boundary equals it, nobody exceeds any)
    assert(out.values.map(_._3).toSet === Set(1))
    // quintile boundaries: 10 values, ceil-rank cut -> 2 per bucket on r/m
    assert(out.values.map(_._2).toSeq.sorted === Seq(1, 1, 2, 2, 3, 3, 4, 4, 5, 5))
    // segment: r=1 f=1 -> hibernating for the stalest
    assert(out(0L)._5 === "hibernating")
  }

  // ---- target encoding ----

  test("targetEncode: LOO excludes own row; singleton -> NULL; smoothing exact") {
    val df = Seq(
      (1L, "a", 100L), (2L, "a", 200L), (3L, "a", 600L),
      (4L, "b", 1000L) // singleton category
    ).toDF("k", "cat", "t")
    val out = Features.targetEncode(df, col("k"), col("cat"), col("t"), m = 2)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3)))).toMap
    // global mean = 1900/4 = 475 (trunc div)
    // cat a: sum 900 cnt 3; LOO k=1: (900-100)/2 = 400; k=3: (900-600)/2=150
    assert(out(1L)._1 === Some(400L))
    assert(out(2L)._1 === Some(350L))
    assert(out(3L)._1 === Some(150L))
    assert(out(4L)._1 === None)
    // smooth m=2: a -> (900 + 2*475)/(3+2) = 1850/5 = 370; b -> (1000+950)/3 = 650
    assert(out(1L)._2 === 370L)
    assert(out(4L)._2 === 650L)
  }

  // ---- correlation ----

  test("corrMatrix: perfect positive/negative/zero correlation vectors") {
    val df = Seq((1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0))
      .toDF("x", "y", "z")
    val out = Features.corrMatrix(df, Seq(
      "x" -> Features.cents(col("x")), "y" -> Features.cents(col("y")),
      "z" -> Features.cents(col("z"))))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(math.abs(out(("x", "y")) - 1.0) < 1e-12)
    assert(math.abs(out(("x", "z")) + 1.0) < 1e-12)
    assert(out.size === 3)
  }

  test("corrMatrix: exact moments match a hand computation") {
    // x = 1,2,3,4 ; y = 1,3,2,4 -> corr = 0.8 exactly
    val df = Seq((0.01, 0.01), (0.02, 0.03), (0.03, 0.02), (0.04, 0.04))
      .toDF("x", "y")
    val out = Features.corrMatrix(df, Seq(
      "x" -> Features.cents(col("x")), "y" -> Features.cents(col("y"))))
      .collect()
    assert(out.length === 1)
    // n*Sxy - SxSy = 4*29 - 100 = 16; den = sqrt(20)*sqrt(20) — the
    // operator's EXACT IEEE expression, not the algebraic 20 (sqrt(20) is
    // irrational; its square lands 1 ulp above 20)
    assert(out(0).getDouble(3) === 16.0 / (math.sqrt(20.0) * math.sqrt(20.0)))
  }

  // ---- OLS ----

  test("olsTrend: exact line recovered; degenerate group -> NULL slope") {
    val df = Seq(
      ("a", 0L, 3L), ("a", 1L, 5L), ("a", 2L, 7L),  // y = 2x + 3 exactly
      ("b", 5L, 9L), ("b", 5L, 11L)                  // single distinct x
    ).toDF("g", "x", "y")
    val rows = Features.olsTrend(df, Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(rows("a")._1 === 3L)
    assert(rows("a")._2 === Some(2.0))
    assert(rows("a")._3 === Some(3.0))
    assert(rows("b")._2 === None && rows("b")._3 === None)
  }

  // ---- EWMA ----

  test("ewmaDaily: exact weights, zero-filled gaps, truncation at L") {
    import graft.pipeline.Stats
    // one group, activity on days 10 (y=4) and 12 (y=8); day 11 missing
    val df = Seq(("g", 10L, 4L), ("g", 12L, 8L)).toDF("grp", "day", "y")
    val out = Stats.ewmaDaily(df, Seq("grp"), col("day"), col("y"),
      alphaNum = 1, alphaDen = 2, lookback = 3)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    // alpha=1/2, L=3: w = (4, 2, 1)/8  [w_j = 1*1^j*2^(2-j)]
    assert(out(10L)._1 === 4L * 4) // day 10: 4*y(10) = 16 -> 16/8 = 2.0
    assert(out(10L)._2 === 16L * 1000 / 8)
    assert(out(11L)._1 === 2L * 4) // day 11: 4*0 + 2*4 = 8
    assert(out(12L)._1 === 4L * 8 + 1L * 4) // day 12: 32 + 2*0 + 1*4 = 36
    assert(out(12L)._2 === 36L * 1000 / 8)
    // spine covers [10, 12] exactly
    assert(out.keySet === Set(10L, 11L, 12L))
  }

  test("ewmaDaily: rejects an alpha that is not a proper fraction") {
    import graft.pipeline.Stats
    val df = Seq(("g", 1L, 1L)).toDF("grp", "day", "y")
    intercept[IllegalArgumentException] {
      Stats.ewmaDaily(df, Seq("grp"), col("day"), col("y"), 4, 4, 3)
    }
  }

  // ---- label propagation ----

  test("labelPropagation: two cliques joined by a bridge keep separate labels") {
    import graft.operators.Graph
    // clique {1,2,3}, clique {10,11,12}, bridge 3-10
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L),
      (11L, 12L), (3L, 10L)).toDF("a", "b")
    val out = Graph.labelPropagation(edges, "a", "b", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1: every clique node adopts its smallest neighbor's label;
    // by round 3 each clique is uniformly labeled 1 (left) / as-propagated
    assert(out(1L) === 1L && out(2L) === 1L && out(3L) === 1L)
    // right clique converges to the label propagated across its members
    assert(Set(out(10L), out(11L), out(12L)).size === 1)
    assert(out.size === 6)
  }

  test("labelPropagation: tie-break picks the SMALLEST label deterministically") {
    import graft.operators.Graph
    // node 5 sees labels {1, 2} with equal frequency -> picks 1 in round 1
    val edges = Seq((5L, 1L), (5L, 2L)).toDF("a", "b")
    val out = Graph.labelPropagation(edges, "a", "b", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(5L) === 1L)
  }

  // ---- session stats ----

  test("sessionStats: entry/exit/bounce vectors incl. gap split") {
    import graft.operators.EventAnalytics
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: [a, b] one session; then a bounce [c] after a 2h gap
    // user 2: single-event session [a] -> bounce
    val df = Seq(
      (1L, 1L, "a", ts("2024-01-01 10:00:00")),
      (2L, 1L, "b", ts("2024-01-01 10:10:00")),
      (3L, 1L, "c", ts("2024-01-01 13:00:00")),
      (4L, 2L, "a", ts("2024-01-02 09:00:00"))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventAnalytics.sessionStats(df, gapMinutes = 30)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("a") === ((2L, 1L, 1L))) // enters both user sessions; exits u2's; u2 bounce
    assert(out("b") === ((0L, 1L, 0L))) // only ever closes a session
    assert(out("c") === ((1L, 1L, 1L))) // the gap-split bounce
  }

  // ---- Jaro-Winkler ----

  test("JaroWinklerKernel: textbook vectors and edge rules") {
    import graft.plans.JaroWinklerKernel
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    def jw(a: String, b: String) = JaroWinklerKernel.similarity(u(a), u(b))
    // classic MARTHA/MARHTA: jaro 17/18, prefix 3 -> 0.9611...
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-15)
    // DIXON/DICKSONX: jaro 0.7667, prefix 2 -> 0.8133...
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-14)
    // DuckDB edge semantics: ANY empty side -> 0, even both-empty
    assert(jw("", "") === 0.0)
    assert(jw("", "abc") === 0.0)
    // both length 1: exact equality only
    assert(jw("a", "a") === 1.0)
    assert(jw("a", "b") === 0.0)
    assert(jw("same", "same") === 1.0)
    // no boost below the 0.7 threshold: fully dissimilar
    assert(jw("abc", "xyz") === 0.0)
  }

  test("JaroWinkler expression: codegen path equals interpreted kernel") {
    import graft.plans.Expressions
    val df = Seq(("martha", "marhta"), ("dwayne", "duane"), ("", "x"))
      .toDF("a", "b")
    val got = df.select(Expressions.jaroWinkler(col("a"), col("b")).as("s"))
      .collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 0.9611111111111111) < 1e-15)
    assert(math.abs(got(1) - 0.84) < 1e-15)
    assert(got(2) === 0.0)
  }

  // ---- winsorize ----

  test("winsorize: exact fences, clip directions, idempotent on interior") {
    import graft.pipeline.Stats
    // group g: values 1..20 -> p05 fence = 1 (ceil(0.05*20)=1st), p95 = 19
    val df = (1L to 20L).map(("g", _)).toDF("grp", "v")
    val out = Stats.winsorize(df, Seq("grp"), col("v"), 50, 950)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getInt(3)))).toMap
    assert(out(1L) === ((1L, 0)))   // at the low fence, kept
    assert(out(20L) === ((19L, 1))) // above p95=19 -> clipped down
    assert(out(10L) === ((10L, 0)))
    // NULL group col guard: singleton group clips nothing
    val one = Seq(("h", 5L)).toDF("grp", "v")
    val o1 = Stats.winsorize(one, Seq("grp"), col("v"), 50, 950).collect()
    assert(o1.head.getLong(2) === 5L && o1.head.getInt(3) === 0)
  }

  // ---- Kneser-Ney ----

  test("kneserNeyBigrams: hand-computed exact ppm probabilities") {
    import graft.pipeline.TextAnalysis
    // corpus: "a b a b" + "c b" ->
    // bigrams: (a,b)x2, (b,a)x1, (c,b)x1 ; types NB = 3
    // byW1: a -> cw1=2 n1r=1 ; b -> 1,1 ; c -> 1,1
    // byW2: b -> n1l=2 ; a -> n1l=1
    val docs = Seq((1L, "a b a b"), (2L, "c b")).toDF("doc_id", "text")
    val out = TextAnalysis.kneserNeyBigrams(docs, minCount = 1L)
      .collect().map(r => (r.getString(1), r.getString(0)) ->
        ((r.getLong(2), r.getLong(3)))).toMap // keyed (w2, w1)
    // p(b|a) = (1e6 * (max(4*2-3,0)*3 + 3*1*2)) div (4*2*3) = 1e6*21 div 24
    assert(out(("b", "a")) === ((2L, 1000000L * 21 / 24)))
    // p(a|b) = (1e6 * (1*3 + 3*1*1)) div (4*1*3) = 1e6*6 div 12 = 500000
    assert(out(("a", "b")) === ((1L, 500000L)))
    // p(b|c) = (1e6 * (1*3 + 3*1*2)) div 12 = 750000
    assert(out(("b", "c")) === ((1L, 750000L)))
    // probabilities of a context sum to <= 1e6 (it IS a distribution)
    assert(out.collect { case ((_, "a"), (_, p)) => p }.sum <= 1000000L)
  }

  // ---- readability ----

  test("fleschMilli: hand-computed counts and clamps") {
    import graft.pipeline.{TextAnalysis => T}
    val df = Seq(
      (1L, "The cat sat. The dog ran!"), // 6 words, 2 sents, 6 syll
      (2L, "no terminal punctuation here"), // 4 words, 1 sent (clamped)
      (3L, "beautiful day")  // syllables: eau+i+u=3, a=1... "beautiful"=3, "day"=1
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), T.nWords(col("text")).as("w"),
      T.nSentences(col("text")).as("s"), T.nSyllables(col("text")).as("y"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((6L, 2L, 6L)))
    assert(out(2L) === ((4L, 1L, 9L))) // o | e,i,a | u,ua,io | e,e
    assert(out(3L)._3 === 4L)
    // flesch milli for doc 1: 206835 - 1015*6/2 - 84600*6/6 = 206835-3045-84600
    val f = df.filter(col("doc_id") === 1)
      .select(T.fleschMilli(T.nWords(col("text")), T.nSentences(col("text")),
        T.nSyllables(col("text")))).collect()(0).getLong(0)
    assert(f === 206835L - 3045L - 84600L)
  }

  // ---- deflate ----

  test("deflateLength: deterministic, repetitive text compresses far below prose") {
    import graft.plans.Expressions
    val rep = "spam spam spam " * 200
    val prose = "The quick brown fox jumps over the lazy dog near riverbanks, " +
      "while distant thunder rolls across unfamiliar valleys tonight." * 1
    val df = Seq((1L, rep), (2L, prose), (3L, "")).toDF("id", "t")
    val out = df.select(col("id"), octet_length(col("t")).cast("long").as("n"),
      Expressions.deflateLength(col("t")).as("dz"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // repetitive 3000 bytes shrink by >10x; prose stays above 50%
    assert(out(1L)._2 * 10 < out(1L)._1)
    assert(out(2L)._2 * 2 > out(2L)._1)
    // determinism across evaluations
    val again = df.select(Expressions.deflateLength(col("t"))).collect().map(_.getLong(0)).toSet
    assert(again === out.values.map(_._2).toSet)
    // empty input has a fixed zlib header cost, not zero, and never NULL
    assert(out(3L)._2 > 0L)
  }

  // ---- heavy hitters ----

  test("Misra-Gries summary never loses a true heavy hitter (superset guarantee)") {
    import graft.operators.HeavyHitters
    // stream: item "A" 40x, "B" 25x, 60 singletons -> n=125, k=5 -> n/k=25
    val stream = Seq.fill(40)("A") ++ Seq.fill(25)("B") ++
      (1 to 60).map(i => s"x$i")
    // adversarial order: interleave
    val shuffled = stream.sortBy(s => (s.hashCode * 2654435761L) & 0xffffff)
    val summary = HeavyHitters.mgSummarize(shuffled.iterator, k = 5)
    assert(summary.contains("A"), s"A (freq 40 > 25) must survive: $summary")
    assert(summary.size <= 5)
    // counts are UNDERestimates, never over
    assert(summary("A") <= 40)
  }

  test("frequentItems: exact counts match the naive groupBy threshold") {
    import graft.operators.HeavyHitters
    val df = ((1 to 300).map(_ => "hot") ++ (1 to 80).map(_ => "warm") ++
      (1 to 400).map(i => s"cold$i")).toDF("t").repartition(7)
    val out = HeavyHitters.frequentItems(df, col("t"), k = 5)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // n = 780, n/k = 156: only "hot" (300) qualifies; counts EXACT
    assert(out === Map("hot" -> ((300L, 780L))))
    // driver-state guard fires
    assertThrows[IllegalArgumentException](
      HeavyHitters.frequentItems(df, col("t"), k = 5, maxPartitionsTimesK = 3))
  }

  // ---- modularity ----

  test("modularityScaled: two cliques with perfect labels; one-community Q = 0") {
    import graft.operators.Graph
    // two triangles bridged by one edge: m = 7
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L),
      (11L, 12L), (3L, 10L)).toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 2L), (11L, 2L),
      (12L, 2L)).toDF("node", "label")
    val out = Graph.modularityScaled(edges, "a", "b", labels)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // community 1: in=3, deg_sum = 2+2+3 = 7 -> q = 4*7*3 - 49 = 35; same for 2
    assert(out(1L) === ((3L, 3L, 7L, 35L)))
    assert(out(2L) === ((3L, 3L, 7L, 35L)))
    // everything in ONE community: q_scaled = 4m*m - (2m)^2 = 0 exactly
    val one = Graph.modularityScaled(edges, "a", "b",
      labels.withColumn("label", lit(9L))).collect()
    assert(one.length === 1 && one(0).getLong(4) === 0L)
  }

  // ---- priceVolumeMix ----

  test("priceVolumeMix: exact reconciliation through the shared truncation point") {
    // X: q 3->5, r 10->20: base = 5*10 div 3 = 16 -> volume 6, price 4
    // (6+4 = delta 10 EXACTLY despite truncation); Y is new (q0=0): all
    // volume. Total: base = 7*10 div 3 = 23 -> vol 13, price 4, mix 1
    val df = Seq(("X", false, 3L, 10L), ("X", true, 5L, 20L),
      ("Y", true, 2L, 8L)).toDF("seg", "cur", "q", "r")
    val rows = Features.priceVolumeMix(df, Seq("seg"), col("cur"),
      col("q"), col("r")).collect()
      .map(r => Option(r.getString(0)) ->
        ((r.getLong(5), r.getLong(6),
          if (r.isNullAt(7)) None else Some(r.getLong(7))))).toMap
    assert(rows(Some("X")) === ((6L, 4L, None)))
    assert(rows(Some("Y")) === ((8L, 0L, None)))
    assert(rows(None) === ((13L, 4L, Some(1L))))
    // per-segment reconciliation is exact by construction
    Features.priceVolumeMix(df, Seq("seg"), col("cur"), col("q"), col("r"))
      .filter(col("seg").isNotNull).collect().foreach { r =>
        assert(r.getLong(5) + r.getLong(6) === r.getLong(4) - r.getLong(3))
      }
  }

  // ---- itemNeighbors (item-item CF) ----

  test("itemNeighbors: cosine from exact counts, min-support filter, symmetric lists") {
    val df = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L), (4L, 3L)).toDF("basket", "item")
    val out = Features.itemNeighbors(df, col("basket"), col("item"),
      k = 3, minSupport = 2)
      .collect().map(r => (r.getLong(0), r.getInt(4)) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // only (1,2) survives support 2: co=3, n_1=3, n_2=3 -> cosine exactly 1
    assert(out.size === 2)
    assert(out((1L, 1)) === ((2L, 3L, 1.0)))
    assert(out((2L, 1)) === ((1L, 3L, 1.0)))
  }

  test("itemNeighbors: cosine ties rank by neighbor id; hot baskets dropped") {
    val base = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L),
      (3L, 3L), (4L, 1L), (4L, 3L), (5L, 2L), (5L, 3L))
    val out = Features.itemNeighbors(base.toDF("basket", "item"),
      col("basket"), col("item"), k = 2, minSupport = 1)
      .collect().map(r => (r.getLong(0), r.getInt(4)) -> r.getLong(1)).toMap
    // cos(1,2) = cos(1,3) = 2/sqrt(12) tie -> neighbor asc
    assert(out((1L, 1)) === 2L && out((1L, 2)) === 3L)
    // one 3-item basket beyond the guard contributes nothing
    val guarded = Features.itemNeighbors(
      (base ++ Seq((9L, 1L), (9L, 2L), (9L, 3L))).toDF("basket", "item"),
      col("basket"), col("item"), k = 2, minSupport = 1, maxBasketSize = 2)
      .collect().map(r => (r.getLong(0), r.getInt(4)) -> r.getLong(1)).toMap
    assert(guarded === out)
  }

  // ---- degree assortativity ----

  test("degreeAssortativity: star is exactly -1; regular graph is degenerate NULL") {
    import graft.operators.Graph
    // K_{1,3}: hub degree 3 against three leaves of degree 1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val r = Graph.degreeAssortativity(star, "a", "b").collect()(0)
    assert(r.getAs[Long]("n_edges") === 3L)
    // M=3, A=9, B=12, C=30: num = 4*3*9-144 = -36, den = 2*3*30-144 = 36
    assert(r.getAs[Double]("num_x") === -36.0)
    assert(r.getAs[Double]("den_x") === 36.0)
    assert(r.getAs[Double]("assortativity") === -1.0)
    // C4 cycle: every degree 2 -> zero variance -> NULL, not a crash
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val c = Graph.degreeAssortativity(cycle, "a", "b").collect()(0)
    assert(c.isNullAt(c.fieldIndex("assortativity")))
  }

  test("degreeAssortativity: direction and duplicate edges are erased first") {
    import graft.operators.Graph
    val messy = Seq((2L, 1L), (1L, 2L), (1L, 3L), (3L, 1L), (1L, 4L),
      (4L, 4L)).toDF("a", "b") // reversed dups + a self-loop
    val r = Graph.degreeAssortativity(messy, "a", "b").collect()(0)
    assert(r.getAs[Long]("n_edges") === 3L)
    assert(r.getAs[Double]("assortativity") === -1.0)
  }

  // ---- dbt_utils generic tests ----

  test("acceptedRange / notNullProportion / rowcountCompare vectors") {
    import graft.operators.GenericTests
    val df = Seq(Some(5L), Some(15L), None, Some(-1L)).toDF("v")
    // range [0,10]: 15 and -1 violate; NULL never does (dbt semantics)
    val r = GenericTests.acceptedRange(df, col("v"), 0L, 10L, "rng").collect()(0)
    assert(r.getString(0) === "rng" && r.getLong(1) === 4L &&
      r.getLong(2) === 2L && !r.getBoolean(3))
    // not-null proportion: 3/4 = 750000 ppm, fails a 900000 bar
    val p = GenericTests.notNullProportion(df, col("v"), 900000L, "nn").collect()(0)
    assert(p.getLong(2) === 750000L && !p.getBoolean(3))
    // rowcount compare: = passes on self, < demands strictly fewer
    val small = Seq(1L).toDF("v")
    assert(GenericTests.rowcountCompare(df, df, "=", "eq").collect()(0).getBoolean(3))
    assert(GenericTests.rowcountCompare(small, df, "<", "lt").collect()(0).getBoolean(3))
    assert(!GenericTests.rowcountCompare(df, small, "<", "lt2").collect()(0).getBoolean(3))
    assertThrows[IllegalArgumentException](
      GenericTests.rowcountCompare(df, df, ">=", "bad"))
  }

  // ---- MP4 container ----

  test("parseMp4: encode/parse roundtrip, v1 mvhd, to-EOF boxes, malformed raise") {
    import graft.pipeline.Multimodal
    // roundtrip with two tracks on a 90kHz timescale
    val bytes = Multimodal.encodeMp4(durationMs = 12345L, timescale = 90000L,
      tracks = Seq((640, 360), (0, 0)), brand = "mp42")
    val m = Multimodal.parseMp4(7L, bytes)
    assert(m === Multimodal.Mp4Meta(7L, "mp42", 90000L, 12345L, 2, 640, 360))
    // version-1 mvhd (64-bit duration) — hand-assemble the box
    def u32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def u64(v: Long) = u32(v >>> 32) ++ u32(v & 0xffffffffL)
    val mvhdV1body = Array[Byte](1, 0, 0, 0) ++ u64(0) ++ u64(0) ++
      u32(1000L) ++ u64(98765L) ++ new Array[Byte](80)
    val mvhdV1 = u32(8L + mvhdV1body.length) ++ "mvhd".getBytes ++ mvhdV1body
    val moov = u32(8L + mvhdV1.length) ++ "moov".getBytes ++ mvhdV1
    val ftyp = u32(20L) ++ "ftyp".getBytes ++ "isom".getBytes ++ u32(0) ++ "isom".getBytes
    val v1 = Multimodal.parseMp4(8L, ftyp ++ moov)
    assert(v1.timescale === 1000L && v1.duration_ms === 98765L && v1.n_tracks === 0)
    // size == 0 (box extends to EOF) on the trailing box is honored
    val fixed = ftyp ++ (u32(0L) ++ "moov".getBytes ++ mvhdV1)
    assert(Multimodal.parseMp4(9L, fixed).duration_ms === 98765L)
    // truncated header raises, it never silently returns zeros
    assertThrows[IllegalArgumentException](
      Multimodal.parseMp4(10L, bytes.take(10)))
    // a file with no mvhd raises
    assertThrows[IllegalArgumentException](Multimodal.parseMp4(11L, ftyp))
  }

  test("parseWebm: EBML roundtrip, defaults, unknown-size, audio-track skip") {
    import graft.pipeline.Multimodal
    // two video tracks roundtrip
    val b = Multimodal.encodeWebm(4321L, Seq((1280, 720), (640, 360)))
    val m = Multimodal.parseWebm(3L, b)
    assert(m === Multimodal.WebmMeta(3L, "webm", 1000000L, 4321L, 2, 1280, 720))
    // hand-build: Segment with unknown size (0xFF), Info WITHOUT
    // TimestampScale (spec default 1e6), 4-byte float Duration, and a
    // TrackEntry of type 2 (audio) that must NOT count as video
    def el(id: Array[Byte], body: Array[Byte]) =
      id ++ Array((0x80 | body.length).toByte) ++ body
    val f4 = java.nio.ByteBuffer.allocate(4).putFloat(2500f).array()
    val info = el(Array(0x15, 0x49, 0xa9.toByte, 0x66), el(Array(0x44, 0x89.toByte), f4))
    val audio = el(Array(0xae.toByte), el(Array(0x83.toByte), Array(2.toByte)))
    val segBody = info ++ el(Array(0x16, 0x54, 0xae.toByte, 0x6b), audio)
    val header = el(Array(0x1a, 0x45, 0xdf.toByte, 0xa3.toByte),
      el(Array(0x42, 0x82.toByte), "matroska".getBytes))
    val seg = Array(0x18, 0x53, 0x80, 0x67).map(_.toByte) ++
      Array(0xff.toByte) ++ segBody
    val m2 = Multimodal.parseWebm(4L, header ++ seg)
    assert(m2.doc_type === "matroska" && m2.timescale_ns === 1000000L)
    assert(m2.duration_ms === 2500L && m2.n_video_tracks === 0)
    // truncated varint raises
    assertThrows[IllegalArgumentException](Multimodal.parseWebm(5L, b.take(6)))
  }

  // ---- JaroWinklerLengthPrune optimizer rule ----

  test("JaroWinklerLengthPrune: derived length check, soundness, vacuous skip") {
    import graft.plans.{Expressions, JaroWinklerLengthPrune}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    // a real file source keeps the Filter node alive: over a
    // LocalRelation the optimizer just EVALUATES the filter at plan time
    // (ConvertToLocalRelation) and leaves nothing to rewrite
    val dir = Scratch.tempDir("graft_jwprune").toString
    Seq(("martha", "marhta"), ("ab", "abcdefghijklmnop"),
      ("same", "same"), ("dwayne", "duane")).toDF("a", "b")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val q = df.filter(Expressions.jaroWinkler(col("a"), col("b")) >= 0.9)
    // soundness: the rule must not change results (it adds an implication)
    val rows = q.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows === Set(("martha", "marhta"), ("same", "same")))
    // the optimized plan carries a length() conjunct the user never wrote
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("length"), s"derived length check missing:\n$opt")
    // vacuous threshold (<= 0.8): no length check injected
    val weak = df.filter(Expressions.jaroWinkler(col("a"), col("b")) >= 0.7)
    assert(!weak.queryExecution.optimizedPlan.toString.contains("length"),
      "a 0.7 threshold implies no positive length bound")
    // idempotent: applying the rule to an already-rewritten plan is a no-op
    val once = JaroWinklerLengthPrune(q.queryExecution.optimizedPlan)
    val twice = JaroWinklerLengthPrune(once)
    assert(once.collect { case f: LFilter => f.condition.toString } ===
      twice.collect { case f: LFilter => f.condition.toString })
    // the bound itself: jw("ab", 16-char) can never reach 0.9 — pruned
    // rows match kernel truth (assert kernel agrees the pair fails)
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    assert(graft.plans.JaroWinklerKernel.similarity(
      u("ab"), u("abcdefghijklmnop")) < 0.9)
  }

  test("graft_jaro_winkler / graft_deflate_len callable from SQL text") {
    val r = spark.sql(
      "SELECT graft_jaro_winkler('martha', 'marhta') AS jw, " +
        "graft_deflate_len('aaaaaaaaaaaaaaaaaaaaaaaa') AS dz").collect()(0)
    assert(math.abs(r.getDouble(0) - 0.9611111111111111) < 1e-15)
    assert(r.getLong(1) > 0 && r.getLong(1) < 24)
  }

  // ---- categorical drift ----

  test("categoricalDrift: exact TVD vectors — identical, disjoint, novel value") {
    import graft.operators.GenericTests
    val a = Seq("x", "x", "y", "y").toDF("c")
    // identical distributions -> 0
    val same = GenericTests.categoricalDrift(a, a, Seq("c")).collect()(0)
    assert(same.getLong(2) === 0L)
    // disjoint supports -> TVD = 1 (1e6 ppm)
    val b = Seq("z", "z").toDF("c")
    val dis = GenericTests.categoricalDrift(a, b, Seq("c")).collect()(0)
    assert(dis.getLong(2) === 1000000L)
    // a: 1/2 x, 1/2 y ; b: 1/2 x, 1/4 y, 1/4 z -> TVD = (0 + 1/4 + 1/4)/2 = 1/4
    val c = Seq("x", "x", "y", "z").toDF("c")
    val quarter = GenericTests.categoricalDrift(a, c, Seq("c")).collect()(0)
    assert(quarter.getLong(2) === 250000L)
    assert(quarter.getLong(1) === 3L) // union of value supports
  }

  test("corrMatrix: a constant column yields NULL corr (zero variance)") {
    import graft.operators.Features
    val df = Seq((1.0, 5.0), (2.0, 5.0), (3.0, 5.0)).toDF("x", "y")
    val r = Features.corrMatrix(df, Seq("x" -> Features.cents(col("x")),
      "y" -> Features.cents(col("y")))).collect()(0)
    // dy = 0: correlation undefined -> NULL, never an ANSI divide error
    assert(r.isNullAt(3))
  }

  test("twoProportionZ: hand vector, sign symmetry, degenerate NULLs") {
    import graft.operators.Features
    val df = Seq((100L, 20L, 100L, 10L)).toDF("n1", "c1", "n2", "c2")
    val z = df.select(Features.twoProportionZ($"n1", $"c1", $"n2", $"c2"))
      .collect()(0).getDouble(0)
    // num = 1000; inner = 30*170*100*100/200 = 255000
    assert(z === 1000.0 / math.sqrt(255000.0))
    // swapping arms flips the sign exactly
    val zSwap = df.select(Features.twoProportionZ($"n2", $"c2", $"n1", $"c1"))
      .collect()(0).getDouble(0)
    assert(zSwap === -z)
    // degenerate: zero conversions anywhere, or an empty arm -> NULL
    for ((n1, c1, n2, c2) <- Seq((100L, 0L, 100L, 0L), (0L, 0L, 100L, 10L),
      (100L, 100L, 100L, 100L))) {
      val r = Seq((n1, c1, n2, c2)).toDF("n1", "c1", "n2", "c2")
        .select(Features.twoProportionZ($"n1", $"c1", $"n2", $"c2")).collect()(0)
      assert(r.isNullAt(0), s"($n1,$c1,$n2,$c2) must have no sampling variance")
    }
  }

  test("numericDrift: identical -> 0; mass shifted past a fence measured exactly") {
    import graft.operators.GenericTests
    val a = (1L to 100L).toDF("v")
    assert(GenericTests.numericDrift(a, a, col("v"), "v").collect()(0)
      .getLong(2) === 0L)
    // B doubles the top half: 50 of 100 values leave their decile pattern.
    // deciles of A = 10,20,...,90; B = 1..50 ++ 102,104..200 -> buckets
    // 0..4 keep 10 each; buckets 5..8 lose all 40 to bucket 9
    val b = ((1L to 50L) ++ (51L to 100L).map(_ * 2)).toDF("v")
    val r = GenericTests.numericDrift(a, b, col("v"), "v").collect()(0)
    // TVD = (|0|*5 + |10/100|*4 + |50/100 - 10/100|)/2 = (0.4 + 0.4)/2 = 0.4
    assert(r.getLong(2) === 400000L)
    assert(r.getLong(1) === 10L)
  }

  // ---- column lineage ----

  test("columnLineage: window, explode, self-join, multi-source expression") {
    import graft.engine.Lineage
    val src = Seq((1L, "a b", 10L)).toDF("id", "txt", "w")
    val dim = Seq((1L, "x")).toDF("k", "label")
    // multi-source concat + window over w + exploded tokens
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"id").orderBy($"w")
    val model = src.join(dim, $"id" === $"k")
      .withColumn("tok", explode(split($"txt", " ")))
      .select($"id", $"tok",
        concat($"label", $"txt").as("tagged"),
        sum($"w").over(win).as("running"))
    val out = Lineage.columnLineage(spark, model,
      Map("src" -> src, "dim" -> dim))
      .collect().map(r => (r.getString(0), Option(r.getString(1)),
        Option(r.getString(2))))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(out("tok") === Set((Some("src"), Some("txt"))))
    assert(out("tagged") === Set((Some("src"), Some("txt")),
      (Some("dim"), Some("label"))))
    // the window value references w; its partition/order keys also count
    assert(out("running").contains((Some("src"), Some("w"))))
    assert(out("id") === Set((Some("src"), Some("id"))))
    // self-join: both branches resolve to the same source column
    val sj = src.as("l").join(src.as("r"), $"l.id" === $"r.id")
      .select(concat($"l.txt", $"r.txt").as("both"))
    val sjOut = Lineage.columnLineage(spark, sj, Map("src" -> src)).collect()
    assert(sjOut.map(r => (r.getString(1), r.getString(2))).toSet ===
      Set(("src", "txt")))
  }

  test("olsTrend: slope is ONE division of exact integers (noisy fixture)") {
    // x = 0..3, y = 1, 2, 2, 4: Sx=6 Sy=9 Sxx=14 Sxy=(0+2+4+12)=18
    // slope = (4*18 - 54)/(4*14 - 36) = 18/20 = 0.9 ; intercept = (9*14-6*18)/20 = 0.9
    val df = Seq((0L, 1L), (1L, 2L), (2L, 2L), (3L, 4L)).toDF("x", "y")
    val r = Features.olsTrend(df.withColumn("g", lit("g")), Seq("g"),
      col("x"), col("y")).collect()(0)
    assert(r.getDouble(2) === 0.9)
    assert(r.getDouble(3) === 0.9)
  }

  // ---- featureHash ----

  test("featureHash: exact match vs an independent java md5 replay") {
    def feat(tok: String, dim: Int): (Long, Long) = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 8), 16) % dim,
        if (java.lang.Long.parseLong(hex.substring(8, 9), 16) % 2 == 0) 1L
        else -1L)
    }
    def merge(toks: Seq[String]): Map[Long, Long] =
      toks.map(feat(_, 16)).groupBy(_._1).map { case (i, vs) =>
        i -> vs.map(_._2).sum
      }.filter(_._2 != 0L) // a cancelled collision sums to 0 but still rows
    val df = Seq((1L, "A", Some("x")), (2L, "A", None), (3L, "B", None))
      .toDF("id", "seg", "opt")
    val out = Features.featureHash(df, col("id"), Seq("seg", "opt"), dim = 16)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    assert(out(2L) === merge(Seq("seg:A")))
    assert(out(3L) === merge(Seq("seg:B")))
    // id 1 carries both tokens; compare modulo the sum-to-zero case
    val exp1 = Seq("seg:A", "opt:x").map(feat(_, 16))
      .groupBy(_._1).map { case (i, vs) => i -> vs.map(_._2).sum }
    assert(out(1L) === exp1)
  }

  // ---- priceIndexes ----

  test("priceIndexes: hand Laspeyres/Paasche, Fisher IEEE, unmatched drop") {
    val df = Seq(
      ("A", false, 2L, 200L), ("A", true, 1L, 150L), // 100 -> 150
      ("B", false, 1L, 50L), ("B", true, 2L, 80L),   // 50 -> 40
      ("C", false, 3L, 90L)                          // only period 0: drop
    ).toDF("i", "p1", "q", "c")
    val r = Features.priceIndexes(df, col("p1"), col("i"), col("q"),
      col("c")).collect()(0)
    assert(r.getLong(0) === 2L)
    assert(r.getLong(1) === 1360000L) // (150*2 + 40*1) / (100*2 + 50*1)
    assert(r.getLong(2) === 1150000L) // (150*1 + 40*2) / (100*1 + 50*2)
    assert(r.getDouble(3) === math.sqrt(1360000L.toDouble * 1150000L.toDouble))
  }

  // ---- revenueRecognition ----

  test("revenueRecognition: to-the-cent daily schedule, invalid rows drop") {
    val df = Seq(("g", 0L, 2L, 10L), ("g", 1L, 1L, 5L),
      ("g", 5L, 4L, 99L), // inverted: excluded
      ("g", 0L, 0L, -1L)  // negative cents: excluded
    ).toDF("k", "s", "e", "c")
    val out = Features.revenueRecognition(df, Seq("k"), col("s"), col("e"),
        col("c"))
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // 10 over 3 days: 4,3,3 (largest remainder first); +5 on day 1
    assert(out === Map(0L -> ((1L, 4L)), 1L -> ((2L, 8L)), 2L -> ((1L, 3L))))
    assert(out.values.map(_._2).sum === 15L) // exact to the cent
  }

  // ---- hhiConcentration ----

  test("hhiConcentration: equal holders, monopoly, multi-row holder rollup") {
    val df = Seq(
      ("eq", 1L, 20L), ("eq", 2L, 20L), ("eq", 3L, 20L), ("eq", 4L, 20L),
      ("eq", 5L, 10L), ("eq", 5L, 10L), // holder 5 split over two rows
      ("mono", 9L, 77L)
    ).toDF("g", "h", "v")
    val out = Features.hhiConcentration(df, Seq("g"), col("h"), col("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // five equal 20-cent holders: HHI = 5 * 400 * 1e6 / 1e4 = 200000
    assert(out("eq") === ((5L, 100L, 200000L, 5000L)))
    assert(out("mono") === ((1L, 77L, 1000000L, 1000L)))
  }

  // ---- giniSplitScreen ----

  test("giniSplitScreen: hand impurities, perfect split, tie-break, degenerate, guard") {
    // v=1:(2 rows, 1 pos), v=2:(1,1), v=3:(2,0): parent 2*2*3/25 = 0.48,
    // best split v<=2 -> (3/5)*2*(2/3)(1/3) + (2/5)*0 = 0.2666
    val df = Seq((1L, true), (1L, false), (2L, true), (3L, false),
      (3L, false)).toDF("v", "y")
    val r = Features.giniSplitScreen(df, col("v"), col("y")).collect()(0)
    assert((r.getAs[Long]("n"), r.getAs[Long]("n_pos")) === ((5L, 2L)))
    assert(r.getAs[Long]("parent_ppm") === 480000L)
    assert(r.getAs[Long]("best_threshold") === 2L)
    assert(r.getAs[Long]("best_child_ppm") === 266666L)
    assert(r.getAs[Long]("decrease_ppm") === 213334L)
    // perfectly separable: child impurity exactly 0
    val sep = Seq((1L, false), (2L, false), (3L, true), (4L, true))
      .toDF("v", "y")
    val p = Features.giniSplitScreen(sep, col("v"), col("y")).collect()(0)
    assert(p.getAs[Long]("best_threshold") === 2L &&
      p.getAs[Long]("best_child_ppm") === 0L &&
      p.getAs[Long]("decrease_ppm") === 500000L)
    // all splits equal -> tie breaks to the SMALLEST threshold
    val flat = Seq((1L, true), (2L, false), (3L, true), (4L, false))
      .toDF("v", "y")
    val t = Features.giniSplitScreen(flat, col("v"), col("y")).collect()(0)
    assert(t.getAs[Long]("best_threshold") ===
      Features.giniSplitScreen(flat, col("v"), col("y")).collect()(0)
        .getAs[Long]("best_threshold")) // deterministic
    // single distinct value: no legal split -> empty result
    assert(Features.giniSplitScreen(
      Seq((7L, true), (7L, false)).toDF("v", "y"), col("v"), col("y"))
      .collect().isEmpty)
    // maxDistinct guard fails loud
    val wide = (1L to 50L).map(i => (i, i % 2 == 0)).toDF("v", "y")
    val e = intercept[Exception] {
      Features.giniSplitScreen(wide, col("v"), col("y"), maxDistinct = 10L)
        .collect()
    }
    assert(e.getMessage.contains("exceeded 10"))
  }

  // ---- arcElasticity ----

  test("arcElasticity: hand midpoint vector, sign wrap, NULL and drop edges") {
    // p1: 10 units / 1000c -> 100000 milli; p2: 5 units / 600c -> 120000
    // milli; e = (-5 * 220000 * 1000) / (15 * 20000) = -3666 (trunc)
    val df = Seq(("g", false, 10L, 1000L), ("g", true, 5L, 600L))
      .toDF("grp", "p2", "q", "c")
    val r = Features.arcElasticity(df, Seq("grp"), col("p2"), col("q"),
      col("c")).collect()(0)
    assert((r.getAs[Long]("q1"), r.getAs[Long]("p1_milli"),
      r.getAs[Long]("q2"), r.getAs[Long]("p2_milli")) ===
      ((10L, 100000L, 5L, 120000L)))
    assert(r.getAs[Long]("elasticity_milli") === -3666L)
    // price up AND quantity up -> positive elasticity (sign product)
    val pos = Seq(("g", false, 5L, 500L), ("g", true, 10L, 1200L))
      .toDF("grp", "p2", "q", "c")
    assert(Features.arcElasticity(pos, Seq("grp"), col("p2"), col("q"),
      col("c")).collect()(0).getAs[Long]("elasticity_milli") > 0L)
    // unchanged price -> NULL (undefined, not a division error)
    val flat = Seq(("g", false, 10L, 1000L), ("g", true, 5L, 500L))
      .toDF("grp", "p2", "q", "c")
    val fr = Features.arcElasticity(flat, Seq("grp"), col("p2"), col("q"),
      col("c")).collect()(0)
    assert(fr.isNullAt(fr.fieldIndex("elasticity_milli")))
    // a group present in only one period drops (no pair to compare)
    val one = Seq(("g", false, 10L, 1000L)).toDF("grp", "p2", "q", "c")
    assert(Features.arcElasticity(one, Seq("grp"), col("p2"), col("q"),
      col("c")).collect().isEmpty)
  }
}
