package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.Skew
import graft.operators.{BloomPrune, EventAnalytics, GenericTests}
import graft.pipeline.Sampling
import graft.sources.Sources
import graft.queries.Scratch

/** Round-9 late operators on controlled inputs: attribution, session
  * paths, Benford profiling, skew diagnosis, bloom join pruning,
  * contrastive negative mining, ORC interchange.
  */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  // ---- attribution ----

  private def evDf(rows: Seq[(Long, Long, String, String)]) =
    rows.map { case (id, u, t, tstr) => (id, u, t, ts(tstr)) }
      .toDF("event_id", "user_id", "event_type", "ts")

  test("attribution: first/last/linear vectors incl. window clipping") {
    // user 1: touches a(view) b(click) c(view) then purchase; d outside 3d
    val df = evDf(Seq(
      (1L, 1L, "view", "2024-01-01 00:00:00"),   // outside 3-day lookback
      (2L, 1L, "view", "2024-01-08 10:00:00"),   // first in window
      (3L, 1L, "click", "2024-01-09 10:00:00"),
      (4L, 1L, "view", "2024-01-10 09:00:00"),   // last before conv
      (5L, 1L, "purchase", "2024-01-10 12:00:00"),
      (6L, 2L, "purchase", "2024-01-10 12:00:00") // zero-touch conversion
    ))
    val byType = EventAnalytics.attribution(df, "purchase", Seq("view", "click"), 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 3 touches in window: first=view(#2), last=view(#4); linear: view 2/3, click 1/3
    assert(byType("view") === ((1L, 1L, 666L)))
    assert(byType("click") === ((0L, 0L, 333L)))
  }

  test("attribution: equal-ts touches tie-break on event_id; conv ts excluded") {
    val df = evDf(Seq(
      (10L, 1L, "click", "2024-01-10 10:00:00"),
      (11L, 1L, "view", "2024-01-10 10:00:00"),  // same ts, higher id => last
      (12L, 1L, "view", "2024-01-10 12:00:00"),  // ts == conv ts: excluded
      (13L, 1L, "purchase", "2024-01-10 12:00:00")
    ))
    val byType = EventAnalytics.attribution(df, "purchase", Seq("view", "click"), 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(byType("click") === ((1L, 0L, 500L))) // first by id tie-break
    assert(byType("view") === ((0L, 1L, 500L)))
  }

  // ---- session paths ----

  test("sessionPaths: gap split, step cap, deterministic top-k") {
    val df = evDf(Seq(
      (1L, 1L, "a", "2024-01-01 10:00:00"),
      (2L, 1L, "b", "2024-01-01 10:10:00"),
      (3L, 1L, "c", "2024-01-01 11:00:00"),   // 50 min gap -> new session
      (4L, 2L, "a", "2024-01-01 10:00:00"),
      (5L, 2L, "b", "2024-01-01 10:20:00"),
      (6L, 3L, "a", "2024-01-01 09:00:00"),
      (7L, 3L, "b", "2024-01-01 09:05:00"),
      (8L, 3L, "x", "2024-01-01 09:06:00"),
      (9L, 3L, "y", "2024-01-01 09:07:00"),
      (10L, 3L, "z", "2024-01-01 09:08:00"),
      (11L, 3L, "w", "2024-01-01 09:09:00")   // 6th event: beyond maxSteps=5
    ))
    val got = EventAnalytics.sessionPaths(df, gapMinutes = 30, maxSteps = 5, topK = 10)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("a>b", 2L), ("a>b>x>y>z", 1L), ("c", 1L)))
  }

  test("sessionPaths: exact 30-min gap does NOT split (strictly greater)") {
    val df = evDf(Seq(
      (1L, 1L, "a", "2024-01-01 10:00:00"),
      (2L, 1L, "b", "2024-01-01 10:30:00")))
    val got = EventAnalytics.sessionPaths(df, 30, 5, 10)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("a>b", 1L)))
  }

  // ---- Benford ----

  test("benfordProfile: digit extraction, ppm, exclusions") {
    val df = Seq(123.45, 1.23, 19.99, 2.50, 0.0, -55.0, 900.0)
      .toDF("amt") // digits: 1,1,1,2,excluded,excluded,9
    val got = GenericTests.benfordProfile(df, col("amt"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("1") === ((3L, 600000L, 301029L)))
    assert(got("2") === ((1L, 200000L, 176091L)))
    assert(got("9") === ((1L, 200000L, 45757L)))
    assert(got.size === 3)
  }

  test("benfordProfile: sub-unit amounts use the cent count's first digit") {
    val df = Seq(0.07).toDF("amt") // 7 cents -> digit 7
    val got = GenericTests.benfordProfile(df, col("amt")).collect()
    assert(got.map(_.getString(0)).toSeq === Seq("7"))
  }

  // ---- skew diagnosis ----

  test("Skew.diagnose: exact report on a known distribution") {
    // key a: 5 rows, b/c/d: 1 row each => 8 rows, 4 keys, max 5
    // top-1% keys: K = ceil(4/100) = 1 heaviest key -> 5 rows
    // recommended salt = ceil(5 * 4 / 8) = 3
    val df = (Seq.fill(5)("a") ++ Seq("b", "c", "d")).toDF("k")
    val got = Skew.diagnose(df, Seq("k")).as[(Long, Long, Long, Long, Long)]
      .collect().head
    assert(got === ((8L, 4L, 5L, 5L, 3L)))
  }

  test("Skew.diagnose: uniform keys recommend salt 1") {
    val df = (1 to 100).flatMap(i => Seq(i, i)).toDF("k")
    val got = Skew.diagnose(df, Seq("k")).as[(Long, Long, Long, Long, Long)]
      .collect().head
    assert(got === ((200L, 100L, 2L, 2L, 1L)))
  }

  test("Skew.diagnose: histogram guard raises instead of funneling") {
    val df = (1L to 200L).flatMap(i => Seq.fill(i.toInt % 7 + 1)(i)).toDF("k")
    val e = intercept[Exception] {
      Skew.diagnose(df, Seq("k"), maxDistinctCounts = 2).collect()
    }
    assert(e.getMessage.contains("distinct"))
  }

  // ---- bloom pruning ----

  test("bloom: no false negatives — every build key passes the probe") {
    val build = (1L to 500L).map(_ * 7919L).toDF("k")
    val words = BloomPrune.buildBits(build, col("k"), k = 3, mBits = 1 << 14)
    val misses = build.filter(!BloomPrune.mightContain(col("k"), words, 3)).count()
    assert(misses === 0L)
  }

  test("bloom: prunes most non-members at sane fp rates") {
    val build = (1L to 100L).toDF("k")
    val words = BloomPrune.buildBits(build, col("k"), k = 3, mBits = 1 << 14)
    val probe = (10001L to 30000L).toDF("k")
    val passed = probe.filter(BloomPrune.mightContain(col("k"), words, 3)).count()
    // 100 keys in 16384 bits: fp ~ (1-e^(-300/16384))^3 ~ 6e-6/probe; allow slack
    assert(passed <= 20L, s"false-positive blowup: $passed of 20000 passed")
  }

  test("semiJoinWithBloom == plain semi join (bloom is transparent)") {
    val probe = (1L to 2000L).map(i => (i % 700L, i)).toDF("k", "payload")
    val build = (1L to 50L).map(_ * 13L % 700L).toDF("bk")
    val got = BloomPrune.semiJoinWithBloom(probe, build, "k", "bk")
      .as[(Long, Long)].collect().toSet
    val want = probe.join(build.select(col("bk")).distinct(),
      col("k") === col("bk"), "left_semi").as[(Long, Long)].collect().toSet
    assert(got === want)
  }

  // ---- negative mining ----

  test("negativePairs: no self pairs, no positives, ranks dense from 1") {
    val docs = (1L to 200L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pos = Seq((1L, 2L), (3L, 4L), (10L, 20L)).toDF("pa", "pb")
    val got = Sampling.negativePairs(docs, "doc_id", pos, "pa", "pb",
      kNeg = 3, nBuckets = 4, salt = "t").as[(Long, Long, Long)].collect()
    assert(got.forall { case (a, n, _) => a != n })
    val posSet = Set((1L, 2L), (3L, 4L), (10L, 20L))
    assert(got.forall { case (a, n, _) =>
      !posSet.contains((math.min(a, n), math.max(a, n))) })
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq)
      assert(rows.length <= 3)
    }
  }

  test("negativePairs: deterministic across reruns") {
    val docs = (1L to 100L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pos = Seq.empty[(Long, Long)].toDF("pa", "pb")
    def run() = Sampling.negativePairs(docs, "doc_id", pos, "pa", "pb", 2, 4, "s")
      .as[(Long, Long, Long)].collect().toSet
    assert(run() === run())
  }

  // ---- plan-shape pins (the 100 TB claims, asserted) ----

  // LocalRelation fixtures get executed at OPTIMIZE time by
  // ConvertToLocalRelation, erasing the very operators these pins assert —
  // round-trip through parquet so the plan is a real scan pipeline
  private def viaParquet(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val p = Scratch.tempDir("graft_ext_plan").toString
    df.write.mode("overwrite").parquet(s"$p/t")
    spark.read.parquet(s"$p/t")
  }

  test("bloom prefilter sits on the probe side BEFORE the semi join") {
    val probe = viaParquet((1L to 500L).map(i => (i % 97L, i)).toDF("k", "payload"))
    val build = (1L to 10L).toDF("bk")
    val out = BloomPrune.semiJoinWithBloom(probe, build, "k", "bk")
    val plan = out.queryExecution.executedPlan.toString
    // the probe-side filter (shiftright/element_at bit tests) must appear,
    // and the join must broadcast the small build side
    assert(plan.contains("shiftright"), s"no bloom probe filter in plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"semi join not broadcast:\n$plan")
  }

  test("negativePairs top-k compiles to a map-side WindowGroupLimit") {
    val docs = (1L to 300L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pos = Seq.empty[(Long, Long)].toDF("pa", "pb")
    val out = Sampling.negativePairs(docs, "doc_id", pos, "pa", "pb", 2, 4, "s")
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("sessionPaths top-k is TakeOrdered, never a global sort") {
    val df = viaParquet(evDf(Seq((1L, 1L, "a", "2024-01-01 10:00:00"))))
    val plan = EventAnalytics.sessionPaths(df, 30, 5, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$plan")
  }

  test("seasonalOutliers matches a sequential reference implementation") {
    val rng = new scala.util.Random(7)
    val rows = (1L to 400L).map { i =>
      val day = (i % 28).toInt // 4 weeks
      val t = if (i % 2 == 0) "a" else "b"
      val v = 10.0 + (day % 7) * 5 + rng.nextInt(20) +
        (if (i % 37 == 0) 500.0 else 0.0) // planted spikes
      (i, t, java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00"), v)
    }
    val df = rows.toDF("event_id", "event_type", "ts", "value")
    val got = EventAnalytics.seasonalOutliers(df, k = 3)
      .as[(Long, String, Int, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._4, t._5, t._6))).toMap

    // reference: plain Scala collections, same definitions
    val epoch = java.time.LocalDate.of(1970, 1, 1)
    def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
    val base = rows.map { case (id, t, ts, v) =>
      val dow = java.time.temporal.ChronoUnit.DAYS.between(
        epoch, ts.toLocalDateTime.toLocalDate) % 7
      (id, t, dow.toInt, math.floor(v * 100 + 0.5).toLong)
    }
    val mean = base.groupBy(r => (r._2, r._3)).map { case (k2, g) =>
      k2 -> g.map(_._4).sum / g.size }
    val resid = base.map { case (id, t, dow, c) =>
      (id, t, dow, c - mean((t, dow))) }
    val flagged = resid.groupBy(_._2).flatMap { case (_, g) =>
      val med = lowerMedian(g.map(_._4))
      val mad = lowerMedian(g.map(r => math.abs(r._4 - med)))
      g.filter(r => math.abs(r._4 - med) > 3 * mad)
        .map(r => r._1 -> ((r._4, med, mad)))
    }
    assert(got === flagged)
    assert(got.nonEmpty, "fixture should flag the planted spikes")
  }

  // ---- product quantization ----

  test("pqCodes per block equals kMeansAssign on the sliced vectors") {
    val rng = new scala.util.Random(11)
    val emb = (1L to 60L).map(i =>
      (i, Array.fill(8)(rng.nextDouble() * 2 - 1))).toDF("vec_id", "embedding")
    val books = graft.pipeline.Similarity.pqCodebooks(
      emb, "vec_id", "embedding", blockLen = 4, nBlocks = 2, k = 3, iters = 2)
    val codes = graft.pipeline.Similarity.pqCodes(
      emb, "vec_id", "embedding", 4, books)
      .as[(Long, Int, Int)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    Seq(0, 1).foreach { b =>
      val sliced = emb.select(col("vec_id"),
        slice(col("embedding"), b * 4 + 1, 4).as("embedding"))
      val want = graft.pipeline.Clustering.kMeansAssign(
        sliced, "vec_id", "embedding", k = 3, iters = 2)
        .as[(Long, Int)].collect().toMap
      emb.select("vec_id").as[Long].collect().foreach { id =>
        val got = if (b == 0) codes(id)._1 else codes(id)._2
        assert(got === want(id), s"block $b id $id")
      }
    }
  }

  test("pqTopK: ADC distances and ranks exact on a hand-computed fixture") {
    // 2-dim vectors, blockLen=1, k=2, iters=0 => centroids are the two
    // smallest-id vectors verbatim (den=1)
    val emb = Seq(
      (0L, Array(0.0, 0.0)), (1L, Array(10.0, 10.0)),
      (2L, Array(1.0, 0.0)), (3L, Array(9.0, 10.0)))
      .toDF("vec_id", "embedding")
    val q = Seq((100L, Array(0.0, 1.0))).toDF("vec_id", "embedding")
    val books = graft.pipeline.Similarity.pqCodebooks(
      emb, "vec_id", "embedding", blockLen = 1, nBlocks = 2, k = 2, iters = 0)
    val got = graft.pipeline.Similarity.pqTopK(
      emb, "vec_id", "embedding", q, 1, books, topK = 4)
      .as[(Long, Long, Long)].collect().sortBy(_._3).toSeq
    // codes: 0->(0,0) 2->(0,0) (block0 1000 nearer 0 than 10000); 1,3->(1,1)
    // dt0=[0, 1e8], dt1=[1e6, 8.1e7]; dists: id0=id2=1e6, id1=id3=1.81e8
    assert(got === Seq((100L, 0L, 1L), (100L, 2L, 2L), (100L, 1L, 3L), (100L, 3L, 4L)))
  }

  test("ivfPqTopK: probing every cell reproduces pqTopK; fewer probes only prune") {
    val rng = new scala.util.Random(23)
    val emb = (1L to 80L).map(i =>
      (i, Array.fill(8)(rng.nextDouble() * 2 - 1))).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") <= 2)
    val books = graft.pipeline.Similarity.pqCodebooks(
      emb, "vec_id", "embedding", blockLen = 4, nBlocks = 2, k = 3, iters = 1)
    val coarse = graft.pipeline.Clustering.kMeansCodebook(
      emb, "vec_id", "embedding", k = 4, iters = 1)
    val flat = graft.pipeline.Similarity.pqTopK(
      emb, "vec_id", "embedding", q, 4, books, topK = 5)
      .as[(Long, Long, Long)].collect().toSet
    // all cells probed -> the cell stage prunes nothing: identical ranking
    val full = graft.pipeline.Similarity.ivfPqTopK(
      emb, "vec_id", "embedding", q, 4, books, coarse, nProbe = 4, topK = 5)
      .select("query_id", "neighbor_id", "adc_rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(full === flat)
    // nProbe=1 returns a (possibly shorter) list whose ADC distances are a
    // subsequence of the flat ranking restricted to the probed cell
    val one = graft.pipeline.Similarity.ivfPqTopK(
      emb, "vec_id", "embedding", q, 4, books, coarse, nProbe = 1, topK = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val flatPairs = flat.map(t => (t._1, t._2))
    // every probed-cell hit at rank r must exist in the full candidate
    // set's ordering universe (pruning never invents neighbors)
    val allScored = graft.pipeline.Similarity.pqTopK(
      emb, "vec_id", "embedding", q, 4, books, topK = 80)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2)).toSet
    assert(one.subsetOf(allScored))
    assert(one.nonEmpty && flatPairs.nonEmpty)
    // plan: probe list is broadcast onto the code scan, no cartesian
    val plan = graft.pipeline.Similarity.ivfPqTopK(
      emb, "vec_id", "embedding", q, 4, books, coarse, nProbe = 2, topK = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("pqCodes raises on malformed vectors") {
    val emb = Seq((1L, Array(1.0, 2.0)), (2L, Array(1.0))).toDF("vec_id", "embedding")
    val books = Seq(Seq(graft.pipeline.Clustering.Centroid(Array(0L), 1L)),
      Seq(graft.pipeline.Clustering.Centroid(Array(0L), 1L)))
    val e = intercept[Exception] {
      graft.pipeline.Similarity.pqCodes(emb, "vec_id", "embedding", 1, books).collect()
    }
    assert(e.getMessage.contains("malformed"))
  }

  // ---- audit-helper comparisons ----

  private val cmpA = Seq(
    (1L, "x", 10L), (2L, "y", 20L), (3L, "z", 30L), (4L, "w", 40L))
    .toDF("id", "s", "v")

  test("compareRelations: all four statuses, NULL-safe") {
    val b = Seq((1L, "x", 10L), (2L, "CHANGED", 20L), (5L, "new", 50L),
      (3L, null.asInstanceOf[String], 30L))
      .toDF("id", "s", "v") // 4 removed, 2 modified (one via NULL), 1 added
    val got = GenericTests.compareRelations(cmpA, b, Seq("id"))
      .as[(String, Long)].collect().toMap
    assert(got === Map("identical" -> 1L, "modified" -> 2L,
      "removed" -> 1L, "added" -> 1L))
  }

  test("compareRelations: NULL == NULL counts identical") {
    val a = Seq((1L, null.asInstanceOf[String])).toDF("id", "s")
    val b = Seq((1L, null.asInstanceOf[String])).toDF("id", "s")
    val got = GenericTests.compareRelations(a, b, Seq("id"))
      .as[(String, Long)].collect().toMap
    assert(got === Map("identical" -> 1L))
  }

  test("compareColumns: per-column mismatch counts over matched keys only") {
    val b = Seq((1L, "x", 99L), (2L, "CHANGED", 20L), (9L, "ignored", 0L))
      .toDF("id", "s", "v")
    val got = GenericTests.compareColumns(cmpA, b, Seq("id"))
      .as[(String, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got === Map("s" -> ((1L, 1L)), "v" -> ((1L, 1L))))
  }

  test("comparisons reject misaligned schemas") {
    val b = Seq((1L, "x")).toDF("id", "other")
    val e = intercept[IllegalArgumentException] {
      GenericTests.compareRelations(cmpA, b, Seq("id"))
    }
    assert(e.getMessage.contains("align"))
  }

  // ---- ORC interchange ----

  test("ORC roundtrip preserves schema, timestamps, and doubles exactly") {
    val dir = Scratch.tempDir("graft_orc_spec").toString
    val src = Seq(
      (1L, ts("2024-03-01 01:02:03.123456"), 0.1 + 0.2, "a"),
      (2L, ts("2024-03-02 23:59:59.999999"), -1.5e-300, "b"))
      .toDF("id", "t", "v", "s")
    Sources.writeOrc(src, s"$dir/t")
    val back = Sources.orc(spark, s"$dir/t")
    // names + types must survive; nullability relaxes to true on ANY file
    // source read-back (parquet does the same) — not an ORC fidelity issue
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      src.schema.map(f => (f.name, f.dataType)))
    assert(back.as[(Long, java.sql.Timestamp, Double, String)].collect().toSet ===
      src.as[(Long, java.sql.Timestamp, Double, String)].collect().toSet)
  }
}
