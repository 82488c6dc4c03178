package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{Incremental, Snapshot}
import graft.operators.Fixtures
import graft.pipeline.TextAnalysis

/** J9 null-safe keys, SN8 schema drift, C5 fixtures, regex tokenizer. */
class EdgeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("range join: inclusive bounds, overlaps multiply, multi-bucket spans match once") {
    import graft.operators.RangeJoin
    def d(s: String) = java.sql.Date.valueOf(s)
    val points = Seq(
      (1L, 10L, d("2024-01-01")),  // exactly on a span start
      (1L, 11L, d("2024-03-31")),  // exactly on a span end
      (1L, 12L, d("2024-03-01")),  // inside BOTH overlapping spans
      (1L, 13L, d("2025-06-01")),  // inside a span that covers many buckets
      (2L, 20L, d("2024-02-01")))  // no span for this key
      .toDF("member_id", "claim_id", "p")
    val spans = Seq(
      (1L, d("2024-01-01"), d("2024-03-31"), "A"),
      (1L, d("2024-02-15"), d("2024-04-30"), "B"),
      (1L, d("2025-01-01"), d("2026-12-31"), "C"))
      .toDF("member_id", "s", "e", "tag")
    val out = RangeJoin.pointInInterval(points, spans, Seq("member_id"),
        "p", "s", "e", bucketWidthDays = 30)
      .collect().groupBy(_.getLong(1)).view
      .mapValues(_.map(_.getString(5)).sorted.toSeq).toMap
    assert(out === Map(10L -> Seq("A"), 11L -> Seq("A", "B"),
      12L -> Seq("A", "B"), 13L -> Seq("C")))
  }

  test("intervalOverlap: exactly-once across bucket seams, inclusive ends, NULL bounds") {
    import graft.operators.RangeJoin
    def d(s: String) = java.sql.Date.valueOf(s)
    val a = Seq(
      (1L, 100L, d("2024-01-01"), d("2024-03-15")), // spans 3 monthly buckets
      (1L, 101L, d("2024-05-01"), d("2024-05-10")),
      (2L, 102L, d("2024-01-01"), d("2024-01-31")))
      .toDF("k", "a_id", "a_s", "a_e")
    val b = Seq(
      (1L, 200L, d("2024-02-20"), d("2024-04-01")), // overlaps 100 in 2 shared buckets -> ONE row
      (1L, 201L, d("2024-03-15"), d("2024-03-20")), // touches 100's endpoint (inclusive)
      (1L, 202L, d("2024-05-11"), d("2024-05-20")), // adjacent to 101, no overlap
      (2L, 203L, null.asInstanceOf[java.sql.Date], d("2024-01-15")), // NULL start dropped
      (3L, 204L, d("2024-01-01"), d("2024-12-31"))) // key with no left rows
      .toDF("k", "b_id", "b_s", "b_e")
    val out = RangeJoin.intervalOverlap(a, b, Seq("k"),
      "a_s", "a_e", "b_s", "b_e", bucketWidthDays = 30)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().sorted.toSeq
    assert(out === Seq((100L, 200L), (100L, 201L)))
  }

  test("asOf join: <= semantics, ties, and no-match NULLs") {
    import graft.operators.AsOfJoin
    def d(s: String) = java.sql.Date.valueOf(s)
    val left = Seq(
      (1L, 10L, d("2024-01-05")),  // between eff dates -> BASIC
      (1L, 11L, d("2024-02-01")),  // exactly ON the 2nd eff date -> PREMIUM (<=)
      (1L, 12L, d("2024-03-01")),  // after both -> PREMIUM
      (2L, 20L, d("2023-12-31")),  // before any enrollment -> NULLs
      (3L, 30L, d("2024-06-01")))  // key with no right rows -> NULLs
      .toDF("member_id", "claim_id", "service_date")
    val right = Seq(
      (1L, d("2024-01-01"), "BASIC"), (1L, d("2024-02-01"), "PREMIUM"),
      (2L, d("2024-01-15"), "BASIC"))
      .toDF("member_id", "eff_date", "plan")
    // a NULL right timestamp can never satisfy rts <= lts — it must not be
    // carried onto anything
    val rightWithNull = right.unionByName(
      Seq((2L, Option.empty[java.sql.Date], "GHOST")).toDF("member_id", "eff_date", "plan"))
      // NULL join keys never match under SQL equality either
      .unionByName(Seq((Option.empty[Long], d("2024-01-01"), "NOKEY"))
        .toDF("member_id", "eff_date", "plan"))
    val out = AsOfJoin.asOf(left, rightWithNull, Seq("member_id"), "service_date", "eff_date")
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(4)) None else Some(r.getString(4)))).toMap
    assert(out === Map(10L -> Some("BASIC"), 11L -> Some("PREMIUM"),
      12L -> Some("PREMIUM"), 20L -> None, 30L -> None))
    // same-(key, ts) right duplicates resolve by the tie-break column
    val dup = Seq((1L, d("2024-01-01"), "v1", 1L), (1L, d("2024-01-01"), "v2", 2L))
      .toDF("member_id", "eff_date", "plan", "seq")
    val got = AsOfJoin.asOf(
      Seq((1L, 99L, d("2024-01-02"))).toDF("member_id", "claim_id", "service_date"),
      dup, Seq("member_id"), "service_date", "eff_date", rightTieBreak = Some("seq"))
      .collect()(0).getString(4)
    assert(got === "v2")
  }

  test("merge with nullSafeKeys matches NULL keys (equals.sql:9-17 / <=>)") {
    val tgt = Seq((Some(1L), "a"), (None, "n")).toDF("k", "s")
    val src = Seq((Some(1L), "A"), (None, "N")).toDF("k", "s")
    val strict = Incremental.merge(tgt, src, Seq("k"))
    // default SQL equality: NULL key never matches -> old NULL row kept + new inserted
    assert(strict.count() === 3)
    val nullSafe = Incremental.merge(tgt, src, Seq("k"), nullSafeKeys = true)
    val out = nullSafe.collect().map(r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getString(1)).toMap
    assert(nullSafe.count() === 2)
    assert(out === Map(Some(1L) -> "A", None -> "N"))
  }

  test("snapshot schema drift: new source column null-backfills history (SN8)") {
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2024-02-01 00:00:00")
    val s1 = Seq((1L, "gold")).toDF("member_id", "plan")
    val s2 = Seq((1L, "gold", "NY")).toDF("member_id", "plan", "state")
    val hist1 = Snapshot.firstRun(s1, Seq("member_id"), Snapshot.CheckStrategy(Seq("plan"), t1))
    val hist2 = Snapshot.apply(hist1, s2, Seq("member_id"),
      Snapshot.CheckStrategy(Seq("plan", "state"), t2), Snapshot.Invalidate, t2)
    assert(hist2.columns.contains("state"))
    // plan unchanged but state NULL->NY counts as changed under check strategy
    val open = hist2.filter("dbt_valid_to IS NULL").collect()
    assert(open.length === 1 && open(0).getAs[String]("state") === "NY")
    val closed = hist2.filter("dbt_valid_to IS NOT NULL").collect()
    assert(closed.length === 1 && closed(0).isNullAt(closed(0).fieldIndex("state")))
  }

  test("fixture relation defaults missing columns to typed NULLs (C5)") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", IntegerType)))
    val df = Fixtures.relation(spark, schema, Seq(
      Map("id" -> 1L, "name" -> "a", "score" -> 10),
      Map("id" -> 2L)))
    val r2 = df.filter("id = 2").collect()(0)
    assert(r2.isNullAt(1) && r2.isNullAt(2))
    assert(df.schema === schema)
  }

  test("regex tokenizer splits word pieces and symbols (BPE-ish)") {
    val toks = Seq("hello, world-42!").toDF("t")
      .select(TextAnalysis.tokensRegex($"t").as("toks"))
      .collect()(0).getSeq[String](0)
    assert(toks.contains("hello") && toks.contains(",") && toks.contains("42"))
  }

  test("deleteInsert keeps target rows whose scope predicate is NULL") {
    val tgt = Seq((1L, Some("2024-01-01")), (2L, None), (3L, Some("2024-06-01")))
      .toDF("k", "d").select($"k", to_date($"d").as("d"))
    val src = Seq((3L, Some("2024-06-02"))).toDF("k", "d")
      .select($"k", to_date($"d").as("d"))
    val out = Incremental.deleteInsert(tgt, src, Seq("k"),
      incrementalPredicates = Seq(col("d") >= to_date(lit("2024-06-01"))))
    // NULL-date row 2 must survive (DELETE WHERE pred only removes TRUE rows)
    assert(out.select("k").as[Long].collect().toSet === Set(1L, 2L, 3L))
  }

  test("nsToTimestamp divides integrally (no double rounding at epoch-nanos)") {
    // 9.5e17-magnitude nanos where double division rounds a microsecond low
    val ns = Seq(1704067200000000999L, 1706745599999999001L).toDF("ns")
    val us = ns.select(graft.sources.Sources.nsToTimestamp($"ns").as("ts"))
      .select(unix_micros($"ts")).as[Long].collect().toSeq
    assert(us === Seq(1704067200000000L, 1706745599999999L))
  }

  test("snapshot survives a narrowing source (removed column -> NULL inserts)") {
    import java.sql.Timestamp
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2024-02-01 00:00:00")
    val s1 = Seq((1L, "gold", "NY")).toDF("member_id", "plan", "state")
    val s2 = Seq((1L, "plat")).toDF("member_id", "plan") // state removed
    val hist1 = Snapshot.firstRun(s1, Seq("member_id"),
      Snapshot.CheckStrategy(Seq("plan"), t1))
    val hist2 = Snapshot.apply(hist1, s2, Seq("member_id"),
      Snapshot.CheckStrategy(Seq("plan"), t2), Snapshot.Invalidate, t2)
    val open = hist2.filter("dbt_valid_to IS NULL").collect()
    assert(open.length === 1)
    assert(open(0).getAs[String]("plan") === "plat")
    assert(open(0).isNullAt(open(0).fieldIndex("state")))
  }

  test("evaluate handles NULL fail_calc as zero failures") {
    import graft.operators.GenericTests
    val empty = Seq.empty[(Long, Long)].toDF("unique_field", "n_records")
    val res = GenericTests.evaluate("t", empty, failCalc = "sum(n_records)")
    assert(res.failures === 0L && res.severity === GenericTests.Pass)
  }

  test("saltedJoin rejects dim-preserving join types") {
    import graft.engine.Skew
    val f = Seq((1L, 1L)).toDF("k", "id")
    val d = Seq((1L, "x")).toDF("k", "v")
    assertThrows[IllegalArgumentException](
      Skew.saltedJoin(f, d, Seq("k"), 4, "id", joinType = "full_outer"))
  }

  test("fixture relation rejects columns not in the schema (typo'd fixture keys)") {
    import graft.operators.Fixtures
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("member_id", LongType),
      StructField("gap_flag", IntegerType)))
    val ex = intercept[IllegalArgumentException] {
      Fixtures.relation(spark, schema, Seq(Map("member_id" -> 1L, "gapflag" -> 1)))
    }
    assert(ex.getMessage.contains("gapflag"))
  }

  test("asOf tie-break preserves fractional ordering (no long truncation)") {
    import graft.operators.AsOfJoin
    val left = Seq((1L, 100L)).toDF("k", "lts")
    // two right rows at the SAME (key, ts); versions 1.2 vs 1.9 must order
    // by their real values (a long cast would collapse both to 1)
    val right = Seq((1L, 100L, 1.9, "high"), (1L, 100L, 1.2, "low"))
      .toDF("k", "rts", "version", "payload")
    val out = AsOfJoin.asOf(left, right, Seq("k"), "lts", "rts",
      rightTieBreak = Some("version")).collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("payload") === "high")
  }

  test("hllEstimate raises on registers built with a larger b than the estimator's") {
    import graft.functions.Sketches
    val vals = spark.range(2000).select(($"id" * 31L % 997L).as("v"))
    val regs = Sketches.hllRegisters(vals, Nil, $"v", b = 12)
    val ex = intercept[Exception] {
      Sketches.hllEstimate(regs, Nil, b = 8).collect()
    }
    // carried hll_b raises first; the bucket-range guard remains the
    // fallback for externally built registers without the column
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(ex).exists(m => m.contains("b mismatch") || m.contains("out of range")),
      ex.toString)
    val stripped = regs.drop("hll_b") // externally built shape
    val ex2 = intercept[Exception] {
      Sketches.hllEstimate(stripped, Nil, b = 8).collect()
    }
    assert(msgs(ex2).exists(_.contains("out of range")), ex2.toString)
    // small-m alpha uses the paper's fixed constants, not the asymptotic formula
    assert(Sketches.alphaM2(4) === 0.673 * 16 * 16)
    assert(Sketches.alphaM2(8) === 0.7213 / (1.0 + 1.079 / 256) * 256 * 256)
  }
  test("valueRanks with no group columns ranks over the global distinct-value rollup") {
    import graft.operators.Ranking
    val df = Seq(5L, 5L, 9L, 1L).toDF("v")
    val got = Ranking.valueRanks(df, Seq.empty, $"v")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, 1L, 1L, 1L), (5L, 2L, 2L, 2L), (9L, 1L, 4L, 3L)))
  }

  test("ngramCounts where every doc is shorter than n yields empty, not error") {
    val df = Seq((1L, "a b"), (2L, "c")).toDF("doc_id", "text")
    assert(TextAnalysis.ngramCounts(df, n = 5, minCount = 1).count() === 0L)
  }

  test("bm25TermScores with zero term hits yields empty output") {
    val df = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    assert(TextAnalysis.bm25TermScores(df, Seq("zzz")).count() === 0L)
  }

  test("groupChecksum with no group columns produces one global row") {
    import graft.functions.Sketches
    val out = Sketches.groupChecksum(
      Seq((1L, "x"), (2L, "y")).toDF("id", "v"), Seq.empty, Seq("id", "v"))
      .collect()
    assert(out.length === 1 && out(0).getLong(1) === 2L)
  }

  test("hllSetOps raises on register b-mismatch instead of corrupting the estimate") {
    import graft.functions.Sketches
    val df = (1 to 100).map(i => Tuple1(i.toLong)).toDF("v")
    val wide = Sketches.hllRegisters(df, Seq.empty, $"v", b = 12)
    val ex = intercept[Exception] {
      Sketches.hllSetOps(wide, wide, b = 8).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(ex).exists(m => m.contains("b mismatch") || m.contains("out of range")),
      ex.toString)
    // the OTHER direction (ADVICE r6): registers built with a SMALLER b
    // used to pass silently and systematically underestimate — the carried
    // hll_b now raises in both hllSetOps and hllEstimate
    val narrow = Sketches.hllRegisters(df, Seq.empty, $"v", b = 8)
    val exS = intercept[Exception] {
      Sketches.hllSetOps(narrow, narrow, b = 12).collect()
    }
    assert(msgs(exS).exists(_.contains("b mismatch")), exS.toString)
    val exE = intercept[Exception] {
      Sketches.hllEstimate(narrow, Nil, b = 12).collect()
    }
    assert(msgs(exE).exists(_.contains("b mismatch")), exE.toString)
  }

  test("funnel maxEventsPerUser cap is enforced in-op (pathological user bounded)") {
    import graft.operators.EventAnalytics
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // u1's 'b' arrives as their THIRD step event: reachable uncapped,
    // out of reach with cap 2 (earliest events kept — conservative)
    val ev = Seq(
      ("u1", "a", ts(1)), ("u1", "a", ts(2)), ("u1", "b", ts(3)),
      ("u2", "a", ts(1)), ("u2", "b", ts(2)))
      .toDF("user_id", "event_type", "ts")
    val uncapped = EventAnalytics.funnel(ev, Seq("a", "b"))
      .as[(String, Int)].collect().toMap
    assert(uncapped === Map("u1" -> 2, "u2" -> 2))
    val capped = EventAnalytics.funnel(ev, Seq("a", "b"), maxEventsPerUser = 2)
      .as[(String, Int)].collect().toMap
    assert(capped === Map("u1" -> 1, "u2" -> 2))
    intercept[IllegalArgumentException](
      EventAnalytics.funnel(ev, Seq("a", "b"), maxEventsPerUser = 0))
  }

  test("valueRanks ungrouped raises beyond maxDistinctUngrouped instead of silently funneling") {
    import graft.operators.Ranking
    val df = spark.range(100).toDF("v")
    val ex = intercept[Exception](
      Ranking.valueRanks(df, Seq.empty, $"v", maxDistinctUngrouped = 10).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(ex).exists(_.contains("valueRanks")), ex.toString)
    // under the bound: intact results, and GROUPED calls are never guarded
    assert(Ranking.valueRanks(df, Seq.empty, $"v", maxDistinctUngrouped = 100)
      .count() === 100L)
    val grouped = df.withColumn("g", $"v" % 2)
    assert(Ranking.valueRanks(grouped, Seq("g"), $"v", maxDistinctUngrouped = 1)
      .count() === 100L)
  }

  test("zorderN: 2x16 equals zorder16 bit-for-bit; 3-dim matches naive interleave; range/NULL") {
    import graft.plans.Expressions
    val rnd = new Random(99)
    val pairs = (1 to 200).map(_ => (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val two = pairs.toDF("x", "y")
      .select(Expressions.zorder16($"x", $"y").as("a"),
        Expressions.zorderN(16, $"x", $"y").as("b"))
      .as[(Long, Long)].collect()
    two.foreach { case (a, b) => assert(a === b) }
    // 3-dim x 5-bit vs a naive scala interleave
    def naive3(vs: Seq[Long], bits: Int): Long =
      (0 until bits).flatMap(i => vs.zipWithIndex.map { case (v, j) =>
        ((v >> i) & 1L) << (i * vs.size + j) }).sum
    val triples = (1 to 100).map(_ =>
      (rnd.nextInt(32).toLong, rnd.nextInt(32).toLong, rnd.nextInt(32).toLong))
    val got3 = triples.toDF("x", "y", "z")
      .select($"x", $"y", $"z", Expressions.zorderN(5, $"x", $"y", $"z").as("k"))
      .as[(Long, Long, Long, Long)].collect()
    got3.foreach { case (x, y, z, k) => assert(k === naive3(Seq(x, y, z), 5)) }
    // out-of-range raises; NULL element -> NULL key; bad params raise
    intercept[Exception](Seq((32L, 1L, 1L)).toDF("x", "y", "z")
      .select(Expressions.zorderN(5, $"x", $"y", $"z")).collect())
    val nul = Seq((Some(3L), Option.empty[Long])).toDF("x", "y")
      .select(Expressions.zorderN(8, $"x", $"y")).collect()(0)
    assert(nul.isNullAt(0))
    intercept[IllegalArgumentException](Expressions.zorderN(32, $"x", $"y"))
    intercept[IllegalArgumentException](Expressions.zorderN(8, $"x"))
  }

  test("zorder16 propagates NULL inputs as NULL keys") {
    import graft.plans.Expressions
    val out = Seq[(java.lang.Long, java.lang.Long)]((3L, null), (null, 5L), (3L, 5L))
      .toDF("x", "y")
      .select(Expressions.zorder16($"x", $"y").as("z"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out.count(_.isEmpty) === 2 && out.count(_.isDefined) === 1)
  }

  test("md5GramHashes slices by codepoint, not byte (multibyte parity)") {
    import graft.plans.Expressions
    // 1-, 2-, and 3-byte codepoints: byte-offset slicing would corrupt
    // every gram after the first multibyte char
    val str = "a\u00e9\u2206b" // a, e-acute (2 bytes), increment (3 bytes), b
    def h(gram: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(gram.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    val expected = (0 to 2).map(i => h(str.substring(i, i + 2)))
    val got = Seq(Tuple1(str)).toDF("t")
      .select(Expressions.md5GramHashes($"t", 2).as("h"))
      .collect()(0).getSeq[Long](0)
    assert(got === expected)
    // and the composed-form equivalence Column.substr would give
    val viaSubstr = Seq(Tuple1(str)).toDF("t").select(
      (0 to 2).map(i => conv(substring(md5($"t".substr(lit(i + 1), lit(2))), 1, 8), 16, 10)
        .cast("long").as(s"g$i")): _*).collect()(0)
    assert(got === (0 to 2).map(viaSubstr.getLong))
  }

  test("round-8 operators on degenerate inputs: empty, short, oversized k") {
    import graft.operators.{FuzzyLink, Intervals}
    import graft.pipeline.{Sampling, TextAnalysis}
    val empty = Seq.empty[(Long, String)].toDF("id", "k")
    assert(FuzzyLink.link(empty, $"id", $"k", empty, $"id", $"k").count() === 0)
    assert(Intervals.mergeIntervals(
      Seq.empty[(Long, Long, Long)].toDF("u", "st", "en"),
      Seq("u"), $"st", $"en", $"st").count() === 0)
    // k larger than the population returns everything, no error
    val tiny = Seq((1L, 5L), (2L, 3L)).toDF("id", "w")
    assert(Sampling.prioritySample(tiny, $"id", $"w", k = 100).count() === 2)
    // winnowing on strings shorter than the gram size contributes nothing
    val short = Seq((1L, "ab"), (2L, "abcdefgh")).toDF("doc_id", "text")
    val fp = TextAnalysis.winnowFingerprints(short, k = 4, w = 5)
    assert(fp.filter($"doc_id" === 1L).count() === 0)
    assert(fp.filter($"doc_id" === 2L).count() >= 1)
    // n < w: the clamped single window still selects exactly one entry
    // per distinct (pos, fp) — 8 chars, k=4 -> 5 grams, w=5 -> 1 window
    assert(fp.filter($"doc_id" === 2L).count() === 1)
    // single-term phrase degenerates to term lookup
    val one = TextAnalysis.phraseSearch(
      TextAnalysis.positionalPostings(Seq((1L, "x y x")).toDF("doc_id", "text")),
      Seq("x")).collect()(0)
    assert(one.getLong(1) === 2L && one.getLong(2) === 0L)
    // LM scoring with an EMPTY reference: every bigram unseen, uniform max
    val lm = TextAnalysis.bigramLmScore(
      Seq((1L, "a b c", "x")).toDF("doc_id", "text", "source"),
      $"source" === "nope", scale = 1000L).collect()(0)
    assert(lm.getLong(2) === 0L) // V = 0, C = 0 -> term (1000*0) div 1 = 0
  }

  test("round-9 feature ops on empty inputs: empty results, never a crash") {
    import graft.operators.{Features, Graph, HeavyHitters}
    import graft.pipeline.{Stats, TextAnalysis}
    val emptyOrders = Seq.empty[(Long, java.sql.Date, Double)]
      .toDF("cust", "odate", "amt")
    assert(Features.rfm(emptyOrders, "cust", "odate", "amt").count() === 0L)
    val emptyKV = Seq.empty[(Long, String, Long)].toDF("k", "cat", "t")
    assert(Features.targetEncode(emptyKV, $"k", $"cat", $"t").count() === 0L)
    val emptyEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Graph.labelPropagation(emptyEdges, "a", "b", 2).count() === 0L)
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextAnalysis.kneserNeyBigrams(emptyDocs).count() === 0L)
    assert(HeavyHitters.frequentItems(
      Seq.empty[String].toDF("t"), $"t", k = 5).count() === 0L)
    val emptyDays = Seq.empty[(String, Long, Long)].toDF("g", "d", "y")
    assert(Stats.ewmaDaily(emptyDays, Seq("g"), $"d", $"y", 1, 4, 3).count() === 0L)
    // single-row OLS: slope undefined (one x), trend row still present
    val one = Seq(("g", 1L, 5L)).toDF("g", "x", "y")
    val r = Features.olsTrend(one, Seq("g"), $"x", $"y").collect()(0)
    assert(r.getLong(1) === 1L && r.isNullAt(2))
  }
}
