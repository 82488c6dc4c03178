package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Ranking
import graft.pipeline.{Profile, Stats, TextAnalysis}
import graft.functions.Sketches
import graft.plans.Expressions

/** Round-6 operators on controlled inputs. */
class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("valueRanks matches naive rank/dense_rank per group") {
    val rng = new scala.util.Random(3)
    val rows = (1 to 300).map(_ => (s"g${rng.nextInt(3)}", rng.nextInt(15).toLong))
    val df = rows.toDF("g", "v")
    val got = Ranking.valueRanks(df, Seq("g"), $"v")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4, t._5))).toMap
    rows.groupBy(_._1).foreach { case (g, grp) =>
      val vals = grp.map(_._2)
      vals.distinct.foreach { v =>
        val n = vals.count(_ == v).toLong
        val rnk = vals.count(_ < v).toLong + 1
        val drnk = vals.distinct.count(_ < v).toLong + 1
        assert(got((g, v)) === ((n, rnk, drnk)), s"at ($g,$v)")
      }
    }
  }

  test("valueRanks ignores NULL values") {
    val df = Seq[(String, java.lang.Long)](("g", null), ("g", 5L), ("g", 5L), ("g", 9L))
      .toDF("g", "v")
    val got = Ranking.valueRanks(df, Seq("g"), $"v")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(got.toSeq === Seq(("g", 5L, 2L, 1L, 1L), ("g", 9L, 1L, 3L, 2L)))
  }

  test("bm25TermScores: correct tf/df, saturation increasing in tf") {
    val df = Seq(
      (1L, "cat cat cat dog"),
      (2L, "cat fish"),
      (3L, "bird bird")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TermScores(df, Seq("cat", "dog"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(out((1L, "cat"))._1 === 3L)         // tf
    assert(out((1L, "cat"))._2 === 2L)         // df: docs 1 and 2
    assert(out((2L, "cat"))._1 === 1L)
    assert(out((1L, "dog"))._2 === 1L)
    assert(!out.contains((3L, "cat")))         // no hit, no row
    // same doc length => tf_norm strictly increases with tf
    assert(out((1L, "cat"))._3 > out((1L, "dog"))._3)
    // rarer term => larger idf odds
    assert(out((1L, "dog"))._4 > out((1L, "cat"))._4)
  }

  test("profileColumns: exact counts, null-safe bounds, unknown column raises") {
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (2L, null), (2L, null))
      .toDF("id", "s")
      .withColumn("all_null", lit(null).cast("int"))
    val out = Profile.profileColumns(df, Seq("id", "s", "all_null"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(out("id") === ((3L, 0L, 2L, "1", "2")))
    assert(out("s") === ((3L, 2L, 1L, "a", "a")))
    assert(out("all_null") === ((3L, 3L, 0L, null, null)))
    intercept[IllegalArgumentException] {
      Profile.profileColumns(df, Seq("nope"))
    }
  }

  test("profileColumns on an empty table reports zero counts, not NULLs") {
    val df = Seq((1L, "a")).toDF("id", "s").filter(lit(false))
    val out = Profile.profileColumns(df, Seq("id", "s"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map("id" -> ((0L, 0L, 0L)), "s" -> ((0L, 0L, 0L))))
  }

  test("madOutliers flags only far-out rows, exact group stats") {
    // group g: median 10, MAD 1 -> |v-10| > 3 flags 50 only
    val df = Seq(("g", 9L), ("g", 9L), ("g", 10L), ("g", 11L), ("g", 12L),
      ("g", 50L)).toDF("src", "v")
    val out = Stats.madOutliers(df, Seq("src"), $"v", k = 3)
      .select($"src", $"v", $"med", $"mad")
      .as[(String, Long, Long, Long)].collect()
    assert(out.toSeq === Seq(("g", 50L, 10L, 1L)))
  }

  test("madOutliers: zero-MAD group flags every deviating row") {
    val df = Seq(("g", 5L), ("g", 5L), ("g", 5L), ("g", 6L)).toDF("src", "v")
    val out = Stats.madOutliers(df, Seq("src"), $"v", k = 3)
      .select($"v").as[Long].collect()
    assert(out.toSeq === Seq(6L))
  }

  test("ngramCounts: exact bigram multiset with threshold") {
    val df = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.ngramCounts(df, n = 2, minCount = 1)
      .as[(String, Long)].collect().toMap
    assert(out === Map("a b" -> 3L, "b a" -> 1L))
    val thresholded = TextAnalysis.ngramCounts(df, n = 2, minCount = 2)
      .as[(String, Long)].collect().toMap
    assert(thresholded === Map("a b" -> 3L))
  }

  test("hllSetOps: identical sets -> zero-ish intersection error; disjoint -> near-zero overlap") {
    val a = (1 to 2000).map(i => Tuple1(i.toLong)).toDF("v")
    val b = (1501 to 3500).map(i => Tuple1(i.toLong)).toDF("v")
    val ra = Sketches.hllRegisters(a, Seq.empty, $"v")
    val rb = Sketches.hllRegisters(b, Seq.empty, $"v")
    val same = Sketches.hllSetOps(ra, ra).collect()(0)
    assert(math.abs(same.getDouble(3) - same.getDouble(0)) < 1e-9,
      "A intersect A == |A| exactly (identical registers)")
    val over = Sketches.hllSetOps(ra, rb).collect()(0)
    // true overlap 500 of 2000/2000; b=8 gives ~6.5% per-estimate error,
    // inclusion-exclusion compounds it — just pin the broad shape
    assert(over.getDouble(3) > 0.0 && over.getDouble(3) < 1500.0,
      s"overlap estimate ${over.getDouble(3)}")
    assert(over.getDouble(2) > over.getDouble(0), "union > |A|")
  }

  test("SQL function registration: graft_* callable from spark.sql, codegen values match DSL") {
    // INT (not LONG) literals: the registration wraps args in explicit
    // casts, so interpreted eval must not ClassCastException
    assert(spark.sql("SELECT graft_zorder16(3, 5) AS z").as[Long].head() ===
      spark.sql("SELECT graft_zorder16(3L, 5L) AS z").as[Long].head())
    // foldable (non-bare-literal) scale accepted
    assert(spark.sql("SELECT graft_quantize(array(1.5D), CAST(1000 AS INT))[0] AS q")
      .as[Long].head() === 1500L)
    val z = spark.sql("SELECT graft_zorder16(3L, 5L) AS z").as[Long].head()
    assert(z === (Expressions.zorder16(lit(3L), lit(5L)) match { case c =>
      Seq(1).toDF("x").select(c).as[Long].head() }))
    val viaSql = spark.sql(
      """SELECT graft_long_array_dot(graft_quantize(array(0.5D, -1.0D), 1000),
        |                            graft_quantize(array(2.0D,  3.0D), 1000)) AS d""".stripMargin)
      .as[Long].head()
    assert(viaSql === (500L * 2000L + -1000L * 3000L))
    // arity and non-literal scale fail loud at analysis, not silently
    intercept[Exception] { spark.sql("SELECT graft_zorder16(1L)").collect() }
    intercept[Exception] {
      spark.sql("SELECT graft_quantize(array(1.0D), cast(rand()*10 as int))").collect()
    }
    // graft_nfc: decomposed e + U+0301 composes to precomposed U+00E9
    // (the combining mark rides in from a Scala escape; Spark SQL
    // string literals have no \u escapes and chr() is byte-bound)
    val nfcQ = "SELECT graft_nfc('e\u0301') AS n"
    assert(spark.sql(nfcQ).as[String].head() === "\u00e9")
  }

  test("zorder16 interleaves bits; out-of-range raises") {
    def naive(x: Long, y: Long): Long =
      (0 until 16).foldLeft(0L)((acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (0xffffL, 0L), (0L, 0xffffL),
      (12345L, 54321L), (0xffffL, 0xffffL))
    val df = cases.toDF("x", "y")
      .select($"x", $"y", Expressions.zorder16($"x", $"y").as("z"))
    df.as[(Long, Long, Long)].collect().foreach { case (x, y, z) =>
      assert(z === naive(x, y), s"at ($x,$y)")
    }
    val e = intercept[Exception] {
      Seq((70000L, 0L)).toDF("x", "y")
        .select(Expressions.zorder16($"x", $"y")).collect()
    }
    def causes(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.toString +: causes(x.getCause))
    assert(causes(e).exists(_.contains("ZOrder16")), e.toString)
  }

  test("labelCentroids: exact component sums and rational means") {
    val df = Seq(
      (0, Array(1.0f, 2.0f)), (0, Array(3.0f, 4.0f)), (1, Array(-1.0f, 0.5f)))
      .toDF("label", "embedding")
    val out = graft.pipeline.Clustering.labelCentroids(df, "label", "embedding")
      .as[(Int, Int, Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4, t._5))).toMap
    assert(out((0, 0)) === ((4000L, 2L, 2000.0)))  // (1000+3000)/2
    assert(out((0, 1)) === ((6000L, 2L, 3000.0)))
    assert(out((1, 0)) === ((-1000L, 1L, -1000.0)))
    assert(out((1, 1)) === ((500L, 1L, 500.0)))
  }

  test("labelCentroids extraGroupCols: per-key sums bag-SUM back to the whole-slice registers") {
    import org.apache.spark.sql.functions._
    // the mergeability contract the rolling centroid monitor (q458)
    // rests on: per-day (label, pos) sums merged by plain sum() equal
    // the registers computed over the undivided slice
    val df = Seq(
      (1, 0, Array(1.0f, 2.0f)), (1, 0, Array(3.0f, 4.0f)),
      (2, 0, Array(5.0f, 6.0f)), (2, 1, Array(-1.0f, 0.5f)))
      .toDF("day", "label", "embedding")
    val perDay = graft.pipeline.Clustering.labelCentroids(
      df, "label", "embedding", extraGroupCols = Seq("day"))
    assert(perDay.columns.toSeq ===
      Seq("day", "label", "pos", "sum_q", "n_vecs", "mean_q"))
    val merged = perDay.groupBy(col("label"), col("pos"))
      .agg(sum(col("sum_q")).as("sum_q"), sum(col("n_vecs")).as("n_vecs"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val whole = graft.pipeline.Clustering.labelCentroids(df, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(merged === whole)
    assert(whole((0, 0)) === ((9000L, 3L)))
  }

  test("groupChecksum: order/partition-invariant, detects any value change") {
    import graft.functions.Sketches
    val rows = (1L to 200L).map(i => (s"g${i % 2}", i, s"v$i"))
    val df = rows.toDF("g", "id", "v")
    val base = Sketches.groupChecksum(df, Seq("g"), Seq("id", "v"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    // shuffled row order + different partitioning -> identical checksums
    val shuffled = Sketches.groupChecksum(
      scala.util.Random.shuffle(rows).toDF("g", "id", "v").repartition(7),
      Seq("g"), Seq("id", "v"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(base === shuffled)
    // a single changed value changes its group's checksum only
    val tweaked = Sketches.groupChecksum(
      rows.map { case (g, i, v) => (g, i, if (i == 7) "CHANGED" else v) }
        .toDF("g", "id", "v"), Seq("g"), Seq("id", "v"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(tweaked("g1") !== base("g1"))
    assert(tweaked("g0") === base("g0"))
    // injective encoding: a separator shifting between adjacent columns,
    // and NULL vs empty string, must all checksum differently
    def one(a: String, b: String) = Sketches.groupChecksum(
      Seq(("g", a, b)).toDF("g", "a", "b"), Seq("g"), Seq("a", "b"))
      .collect()(0).getDecimal(1)
    assert(one("a|", "b") !== one("a", "|b"))
    assert(one(null, "x") !== one("", "x"))
    // mergeable: shard checksums ADD to the global checksum (the scaladoc's
    // distributed-validation contract)
    val shardSum = (0 until 3).map(s =>
      Sketches.groupChecksum(rows.filter(_._2 % 3 == s).toDF("g", "id", "v"),
        Seq("g"), Seq("id", "v"))
        .collect().map(r => r.getString(0) -> BigDecimal(r.getDecimal(1))).toMap)
      .reduce((a, b) => (a.keySet ++ b.keySet).map(k =>
        k -> (a.getOrElse(k, BigDecimal(0)) + b.getOrElse(k, BigDecimal(0)))).toMap)
    assert(shardSum === base.map { case (k, v) => k -> BigDecimal(v) })
  }

  test("hllSetOps with an empty side: est 0.0 and consistent overlap, not NULL") {
    import graft.functions.Sketches
    val a = (1 to 500).map(i => Tuple1(i.toLong)).toDF("v")
    val empty = a.filter(lit(false))
    val row = Sketches.hllSetOps(
      Sketches.hllRegisters(a, Seq.empty, $"v"),
      Sketches.hllRegisters(empty, Seq.empty, $"v")).collect()(0)
    assert(row.getDouble(1) === 0.0)                 // est_b
    assert(row.getDouble(2) === row.getDouble(0))    // union == |A|
    assert(row.getDouble(3) === 0.0)                 // intersect
  }

  test("madOutliers rejects non-integral value columns") {
    val df = Seq(("g", 1.5), ("g", 2.5)).toDF("src", "v")
    val e = intercept[IllegalArgumentException] {
      Stats.madOutliers(df, Seq("src"), $"v", k = 3)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("labelCentroids: NULL components excluded from the mean, not averaged in as zero") {
    val df = Seq(
      (0, Array[java.lang.Float](1.0f, null)),
      (0, Array[java.lang.Float](3.0f, 4.0f))).toDF("label", "embedding")
    val out = graft.pipeline.Clustering.labelCentroids(df, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out((0, 0)) === ((4000L, 2L)))
    assert(out((0, 1)) === ((4000L, 1L))) // the NULL component is not a vector
  }

  test("zorder16 preserves 2-d locality better than a concatenated key") {
    // rows adjacent in BOTH dims land in the same small zkey range; the
    // point of the layout key — check a 4x4 neighborhood spans < the
    // equivalent concat-key span
    val pts = for { x <- 100L to 103L; y <- 200L to 203L } yield (x, y)
    val zs = pts.toDF("x", "y").select(Expressions.zorder16($"x", $"y"))
      .as[Long].collect()
    val concat = pts.map { case (x, y) => x * 65536 + y }
    assert((zs.max - zs.min) < (concat.max - concat.min))
  }

  test("pageRank matches a naive fixed-point reference exactly") {
    // duplicate edge (1,3) must count once; node 4 is dangling (no
    // out-edges: leaks damped mass, still receives teleport + in-mass)
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 1L), (1L, 4L), (1L, 3L))
      .toDF("s", "t")
    val out = graft.operators.Graph.pageRank(edges, "s", "t", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = Set((1L, 3L), (2L, 3L), (3L, 1L), (1L, 4L))
    val nodes = e.flatMap(p => Seq(p._1, p._2))
    val deg = e.groupBy(_._1).map { case (k, v) => k -> v.size }
    var pr = nodes.map(_ -> 1000000000000L).toMap
    for (_ <- 1 to 4) {
      val in = e.toSeq.groupBy(_._2).map { case (v, es) =>
        v -> es.map(ed => pr(ed._1) / deg(ed._1)).sum }
      pr = nodes.map(v => v -> (150000000000L + 85 * in.getOrElse(v, 0L) / 100)).toMap
    }
    assert(out === pr)
    // node 2 has no in-links: exactly the teleport mass, the strict minimum
    // (mid-ranks oscillate before convergence, so no stronger order holds
    // at a fixed small iteration count)
    assert(out(2L) === 150000000000L)
    assert(out.removed(2L).values.forall(_ > out(2L)))
  }

  test("globalRowNumbers: contiguous 0..N-1 by sort order, windows stay partition-parallel") {
    val df = (1L to 500L).map(i => ((i * 37) % 1000, i)).toDF("k", "id")
    val out = graft.operators.Ranking.globalRowNumbers(
      df, Seq(col("k").asc, col("id").asc))
    out.collect() // materialize so executedPlan is final
    val got = out.orderBy(col("row_idx")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = (1L to 500L).map(i => ((i * 37) % 1000, i))
      .sortBy(identity).zipWithIndex
      .map { case ((k, id), idx) => (k, id, idx.toLong) }
    assert(got.toSeq === expected)
    // every Window in the plan partitions on __pid — no global sort funnel
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("SinglePartition"),
      s"global index must never plan a single-partition exchange:\n$plan")
    intercept[IllegalArgumentException](
      graft.operators.Ranking.globalRowNumbers(df, Nil))
    intercept[IllegalArgumentException](graft.operators.Ranking.globalRowNumbers(
      df.withColumn("row_idx", lit(1)), Seq(col("k"))))
  }

  test("pageRankPersonalized matches a naive seeded reference; non-seeds start at 0") {
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("s", "t")
    val seedDf = Seq(3L, 99L).toDF("node_id") // 99 is not in the graph
    val out = graft.operators.Graph.pageRankPersonalized(
      edges, "s", "t", seedDf, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = Set((1L, 3L), (2L, 3L), (3L, 1L), (1L, 4L))
    val nodes = e.flatMap(p => Seq(p._1, p._2))
    val deg = e.groupBy(_._1).map { case (k, v) => k -> v.size }
    val seeds = Set(3L)
    def tp(n: Long): Long = if (seeds(n)) 150000000000L else 0L
    var pr = nodes.map(n => n -> tp(n)).toMap
    for (_ <- 1 to 4) {
      val in = e.toSeq.groupBy(_._2).map { case (v, es) =>
        v -> es.map(ed => pr(ed._1) / deg(ed._1)).sum }
      pr = nodes.map(v => v -> (tp(v) + 85 * in.getOrElse(v, 0L) / 100)).toMap
    }
    assert(out === pr)
    // node 2 is unreachable from the seed and gets no teleport: rank 0;
    // the phantom seed 99 contributes nothing (absent from the graph)
    assert(out(2L) === 0L)
    assert(!out.contains(99L))
    assert(out(3L) > 0L && out(1L) > 0L) // mass flows 3 -> 1
  }

  test("hits matches a naive shift-normalized reference exactly") {
    // 1 is the strongest hub (2 out-links incl. the top authority);
    // 10 the strongest authority (3 in-links); duplicate edge counts once
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 10L), (3L, 12L),
      (1L, 10L)).toDF("s", "t")
    val out = graft.operators.Graph.hits(edges, "s", "t", iterations = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val e = Set((1L, 10L), (1L, 11L), (2L, 10L), (3L, 10L), (3L, 12L))
    val nodes = e.flatMap(p => Seq(p._1, p._2))
    val scale = 1L << 30
    def normShift(m: Map[Long, Long]): Map[Long, Long] = {
      val k = math.max(0, java.lang.Long.toBinaryString(m.values.max).length - 31)
      m.map { case (n, v) => n -> (v >> k) }
    }
    var hub = nodes.map(_ -> scale).toMap
    var auth = nodes.map(_ -> 0L).toMap
    for (_ <- 1 to 3) {
      auth = normShift(nodes.map(v =>
        v -> e.filter(_._2 == v).toSeq.map(x => hub(x._1)).sum).toMap)
      hub = normShift(nodes.map(u =>
        u -> e.filter(_._1 == u).toSeq.map(x => auth(x._2)).sum).toMap)
    }
    assert(out === nodes.map(n => n -> ((hub(n), auth(n)))).toMap)
    assert(out(10L)._2 === out.values.map(_._2).max)
    assert(out(1L)._1 === out.values.map(_._1).max)
    // non-power-of-two scale cannot shift-normalize exactly: raise
    intercept[IllegalArgumentException](
      graft.operators.Graph.hits(edges, "s", "t", 1, scale = 1000))
  }

  test("triangleCounts: K4 plus pendant, mixed directions, dups and self-loops erased") {
    // K4 on {1,2,3,4}: 4 triangles, every member in 3; node 5 pendant
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L), (4L, 3L), (4L, 5L), (5L, 5L))
      .toDF("a", "b")
    val out = graft.operators.Graph.triangleCounts(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L))
  }

  test("kCorePeel cascades: K4 core survives, tail chain peels away round by round") {
    // K4 on {1,2,3,4} + a chain 4-5-6: round 1 drops 6 (deg 1) and 5
    // (deg 2 < 3); round 2 then drops nothing — node 4's degree fell to 3
    // only AFTER 5 left, which is exactly the cascade a one-shot degree
    // filter misses (a chain long enough needs its own round per link)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val out = graft.operators.Graph.kCorePeel(edges, "a", "b", k = 3, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // one round is NOT enough on a longer chain: 4-5-6-7 peels one node
    // per round from the far end
    val chain = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)).toDF("a", "b")
    val r1 = graft.operators.Graph.kCorePeel(chain, "a", "b", k = 2, rounds = 1)
      .collect().map(_.getLong(0)).toSet
    val r2 = graft.operators.Graph.kCorePeel(chain, "a", "b", k = 2, rounds = 2)
      .collect().map(_.getLong(0)).toSet
    assert(r1 === Set(1L, 2L, 3L, 4L, 5L, 6L)) // 7 (deg 1) gone
    assert(r2 === Set(1L, 2L, 3L, 4L, 5L))     // then 6 follows
    intercept[IllegalArgumentException](
      graft.operators.Graph.kCorePeel(chain, "a", "b", k = 0, rounds = 1))
  }

  test("transitionMatrix: exact step counts, per-from probabilities sum to 1") {
    import java.sql.Timestamp
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val ev = Seq(
      (1L, 10L, ts(0), "view"), (1L, 11L, ts(1), "click"), (1L, 12L, ts(2), "view"),
      (2L, 20L, ts(0), "view"), (2L, 21L, ts(1), "view"),
      (3L, 30L, ts(0), "buy")) // single event: no transition
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = graft.operators.EventAnalytics.transitionMatrix(ev)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out(("view", "click")) === (1L, 0.5))
    assert(out(("view", "view")) === (1L, 0.5))
    assert(out(("click", "view")) === (1L, 1.0))
    assert(out.size === 3)
    // ties on ts resolve by event_id: same-ts events order deterministically
    val tied = Seq((1L, 2L, ts(0), "b"), (1L, 1L, ts(0), "a"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val t = graft.operators.EventAnalytics.transitionMatrix(tied).collect()
    assert(t.map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("a", "b")))
  }

  test("cusum: constant series stays at zero, a level shift accumulates") {
    val flat = (1 to 10).map(i => ("k", i, 5L)).toDF("key", "t", "v")
    val f = graft.operators.EventAnalytics.cusum(flat, Seq("key"), $"t", $"v")
      .collect().map(_.getLong(3))
    assert(f.forall(_ === 0L))
    // 5 days at 10, then 5 days at 20: mean 15, drift ramps down then back
    val shift = ((1 to 5).map(i => ("k", i, 10L)) ++ (6 to 10).map(i => ("k", i, 20L)))
      .toDF("key", "t", "v")
    val c = graft.operators.EventAnalytics.cusum(shift, Seq("key"), $"t", $"v")
      .orderBy($"ord").collect().map(_.getLong(3))
    assert(c.take(5) === Array(-5000L, -10000L, -15000L, -20000L, -25000L))
    assert(c.last === 0L)
  }

  test("pageRank with zero iterations returns uniform scale; guards raise") {
    val edges = Seq((1L, 2L)).toDF("s", "t")
    val out = graft.operators.Graph.pageRank(edges, "s", "t", iterations = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1000000000000L, 2L -> 1000000000000L))
    intercept[IllegalArgumentException](
      graft.operators.Graph.pageRank(edges, "s", "t", iterations = -1))
    intercept[IllegalArgumentException](
      graft.operators.Graph.pageRank(edges, "s", "t", 1, dampingPct = 101))
  }

  // ---- fdViolations ----

  test("fdViolations: key FD holds exactly; minimum-repair counts on dirty pairs") {
    val df = Seq(
      (1L, "x", "p"), (1L, "x", "q"), (1L, "x", "p"), (1L, "y", "p"),
      (2L, "z", "p"), (2L, "z", "p")
    ).toDF("a", "b", "c")
    val out = Profile.fdViolations(df, Seq(("a", "b"), ("b", "c")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // a->b: a=1 maps {x:3, y:1} -> 1 repair; a=2 clean
    assert(out(("a", "b")) === ((6L, 2L, 1L, 833333L)))
    // b->c: x maps {p:2, q:1} -> 1; y,z clean
    assert(out(("b", "c")) === ((6L, 3L, 1L, 833333L)))
  }

  test("fdViolations: NULLs excluded on either side; empty pair yields NULL ppm") {
    val df = Seq((Option(1L), Option("x")), (Option(1L), Option.empty[String]),
      (Option.empty[Long], Option("y"))).toDF("a", "b")
    val r = Profile.fdViolations(df, Seq(("a", "b"))).collect()(0)
    assert(r.getLong(2) === 1L && r.getLong(4) === 0L)
    val empty = Profile.fdViolations(
      df.filter(col("a").isNull && col("b").isNull), Seq(("a", "b")))
      .collect()(0)
    assert(empty.getLong(2) === 0L)
    assert(empty.isNullAt(empty.fieldIndex("holds_ppm")))
  }

  // ---- rollingActiveUsers ----

  test("rollingActiveUsers: window coverage, max-day clamp, stickiness truncation") {
    import graft.operators.EventAnalytics
    // u1 active on days 0 and 2, u2 on day 2; window = 2
    val df = Seq((1L, 0L), (1L, 2L), (1L, 2L), (2L, 2L)).toDF("u", "day")
    val out = EventAnalytics.rollingActiveUsers(df, col("u"), col("day"),
      window = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // day 1 has no same-day activity but u1 is window-visible from day 0;
    // days past md=2 are clamped away
    assert(out === Map(
      0L -> ((1L, 1L, 1000000L)),
      1L -> ((0L, 1L, 0L)),
      2L -> ((2L, 2L, 1000000L))))
  }

  test("rollingActiveUsers: duplicate same-day events count once") {
    import graft.operators.EventAnalytics
    val df = Seq.fill(10)((7L, 5L)).toDF("u", "day")
    val r = EventAnalytics.rollingActiveUsers(df, col("u"), col("day"),
      window = 7).collect()
    assert(r.length === 1)
    assert(r(0).getLong(1) === 1L && r(0).getLong(2) === 1L)
  }

  // ---- bradleyTerry ----

  test("bradleyTerry: two-item fixed point matches the closed-form odds ratio") {
    import graft.operators.Ranking
    // 1 beats 2 three times, 2 beats 1 once: BT closed form s1 = 3*s2
    val games = (Seq.fill(3)((1L, 2L)) ++ Seq((2L, 1L))).toDF("w", "l")
    val out = Ranking.bradleyTerry(games, col("w"), col("l"), iters = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    assert(out(1L) === ((3L, 4L, 1000000L, 1)))
    assert(out(2L) === ((1L, 4L, 333333L, 2)))
  }

  test("bradleyTerry: never-winning item pins to 0, unbeaten to 1e6; self/NULL games dropped") {
    import graft.operators.Ranking
    val games = Seq((5L, 6L), (5L, 6L), (5L, 5L)).toDF("w", "l")
    val out = Ranking.bradleyTerry(games, col("w"), col("l"), iters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out === Map(5L -> 1000000L, 6L -> 0L))
    intercept[IllegalArgumentException](
      Ranking.bradleyTerry(games, col("w"), col("l"), maxItems = 1))
  }

  // ---- cohortLtv ----

  test("cohortLtv: cumulative per-user value by first-activity cohort, horizon clip") {
    import graft.operators.EventAnalytics
    val ev = Seq(
      (1L, "2020-01-01", 10L), (1L, "2020-01-03", 20L),
      (2L, "2020-01-01", 5L),
      (3L, "2020-01-03", 7L),
      (1L, "2020-02-01", 99L) // k=31 > horizon 14 -> clipped
    ).toDF("u", "d", "v").withColumn("ts", to_timestamp(col("d")))
    val out = EventAnalytics.cohortLtv(ev, col("u"), col("ts"), col("v"),
      horizonDays = 14)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // cohort 01-01 (2 users): k=0 rev 15 -> 7.5/user; k=2 cum 35 -> 17.5
    assert(out(("2020-01-01", 0L)) === ((2L, 15L, 15L, 7500000L)))
    assert(out(("2020-01-01", 2L)) === ((2L, 20L, 35L, 17500000L)))
    // cohort 01-03 (1 user): k=0 rev 7
    assert(out(("2020-01-03", 0L)) === ((1L, 7L, 7L, 7000000L)))
    assert(out.size === 3)
  }

  // ---- churnSensitivity ----

  test("churnSensitivity: exact rate per inactivity cutoff from the gap rollup") {
    import graft.operators.EventAnalytics
    // last-day gaps vs horizon: u1 0, u2 2, u3 5
    val ev = Seq((1L, 10L), (1L, 5L), (2L, 8L), (3L, 5L)).toDF("u", "day")
    val out = EventAnalytics.churnSensitivity(ev, col("u"), col("day"),
      thresholds = Seq(1, 4))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((3L, 2L, 666666L)))
    assert(out(4L) === ((3L, 1L, 333333L)))
  }

  // ---- latenessAudit ----

  test("latenessAudit: running-max lateness, threshold count, exact p99") {
    import graft.operators.EventAnalytics
    val ev = Seq(
      ("a", 1L, 100L), ("a", 2L, 50L), ("a", 3L, 160L), ("a", 4L, 40L),
      ("a", 5L, 220L),
      ("b", 1L, 10L)
    ).toDF("part0", "arr", "sec")
      .withColumn("ts", to_timestamp(col("sec")))
    val out = EventAnalytics.latenessAudit(ev, col("part0"), col("arr"),
      col("ts"), thresholdSec = 60L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // a: lateness sequence 0,50,0,120,0 -> one beyond 60s, max 120,
    // p99 = first value covering rank ceil(.99*5) = 5 -> 120
    assert(out("a") === ((5L, 1L, 120L, 120L)))
    assert(out("b") === ((1L, 0L, 0L, 0L)))
  }

  // ---- quantileCi ----

  test("quantileCi: order-statistic band at hand binomial ranks") {
    val df = (1L to 100L).map(("g", _)).toDF("k", "v")
    val r = Stats.quantileCi(df, Seq("k"), col("v"), qMille = 500)
      .collect()(0)
    // np = 50, se = 5: lo = floor(50 - 9.8) = 40, hi = ceil(50 + 9.8) = 60
    assert(r.toSeq === Seq("g", 500, 100L, 40L, 50L, 60L))
  }

  // ---- durationCv2 ----

  test("durationCv2: constant 0, hand 0.5, n=1 NULL") {
    val df = Seq(("c", 5L), ("c", 5L), ("c", 5L),
      ("h", 1L), ("h", 3L), ("one", 9L)).toDF("k", "v")
    val out = Stats.durationCv2(df, Seq("k"), col("v"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(out === Map("c" -> 0L, "h" -> 500000L, "one" -> -1L))
  }

  // ---- dowSeasonalIndex ----

  test("dowSeasonalIndex: exact cross-multiplied factors") {
    val df = Seq(("g", 0L, 10L), ("g", 7L, 10L), ("g", 1L, 5L))
      .toDF("k", "d", "v")
    val out = Stats.dowSeasonalIndex(df, Seq("k"), col("d"), col("v"))
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // dow 0: two 10-value days vs overall mean 25/3
    assert(out(0L) === ((2L, 20L, 1200000L)))
    assert(out(1L) === ((1L, 5L, 600000L)))
  }

  // ---- maxDrawdown ----

  test("maxDrawdown: peak-to-trough with earliest trough; rising series 0") {
    val df = Seq(("g", 1L, 10L), ("g", 2L, 5L), ("g", 3L, 8L),
      ("g", 4L, 2L), ("g", 5L, 7L),
      ("up", 1L, 1L), ("up", 2L, 2L)).toDF("k", "t", "v")
    val out = Stats.maxDrawdown(df, Seq("k"), col("t"), col("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("g") === ((5L, 8L, 4L, 10L)))
    assert(out("up") === ((2L, 0L, 1L, 1L)))
  }

  // ---- temporalRules ----

  test("temporalRules: eventual brackets inside the gap, users counted once") {
    import graft.operators.EventAnalytics
    val ev = Seq(
      ("u1", "a", 0L), ("u1", "b", 50L), ("u1", "a", 10L), ("u1", "b", 60L),
      ("u2", "a", 0L), ("u2", "b", 500L), // outside the 100s gap
      ("u3", "a", 0L)
    ).toDF("user_id", "event_type", "sec")
      .withColumn("ts", to_timestamp(col("sec")))
    val out = EventAnalytics.temporalRules(ev, maxGapSec = 100L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // only a->b fires; u1 counts ONCE despite two brackets
    assert(out === Map(("a", "b") -> ((3L, 1L, 333333L))))
  }

  // ---- trimmedMean ----

  test("trimmedMean: rank-range kept counts, tie split at the boundary") {
    val df = ((1L to 10L).map(("g", _)) ++
      Seq(("t", 0L), ("t", 0L), ("t", 10L), ("t", 10L))).toDF("grp", "v")
    val out = Stats.trimmedMean(df, Seq("grp"), col("v"), trimMille = 100)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // g: 10 values, l=1, keep ranks 2..9 -> mean(2..9) = 5.5
    assert(out("g") === ((10L, 8L, 5500000L)))
    // t at 10% trims nothing (l = 0) -> plain mean 5
    assert(out("t") === ((4L, 4L, 5000000L)))
    val split = Stats.trimmedMean(df.filter(col("grp") === "t"), Seq("grp"),
      col("v"), trimMille = 250).collect()(0)
    // l = 1: one 0-row and one 10-row survive the boundary split
    assert((split.getLong(2), split.getLong(3)) === ((2L, 5000000L)))
  }

  // ---- totalVariationDrift ----

  test("totalVariationDrift: hand TV, identical 0, disjoint 1e6") {
    def mk(pop: String, cat: String, n: Int) = Seq.fill(n)((pop, cat))
    val df = (mk("a", "x", 3) ++ mk("a", "y", 1) ++
      mk("b", "x", 1) ++ mk("b", "y", 1) ++ mk("b", "z", 2)).toDF("p", "c")
    val r = Stats.totalVariationDrift(df, col("p") === "a", col("c"))
      .collect()(0)
    assert(r.toSeq === Seq(3L, 4L, 4L, 500000L))
    val same = (mk("a", "x", 2) ++ mk("b", "x", 5)).toDF("p", "c")
    assert(Stats.totalVariationDrift(same, col("p") === "a", col("c"))
      .collect()(0).getLong(3) === 0L)
    val disj = (mk("a", "x", 2) ++ mk("b", "y", 3)).toDF("p", "c")
    assert(Stats.totalVariationDrift(disj, col("p") === "a", col("c"))
      .collect()(0).getLong(3) === 1000000L)
  }

  // ---- oddsRatioMatrix ----

  test("oddsRatioMatrix: full 2x2 cells; zero cell leaves OR NULL") {
    import graft.operators.EventAnalytics
    val ev = Seq(("A", 1L), ("A", 2L), ("B", 1L), ("B", 3L),
      ("C", 1L), ("C", 2L), ("D", 4L)).toDF("t", "u")
    val out = EventAnalytics.oddsRatioMatrix(ev, col("t"), col("u"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          if (r.isNullAt(6)) -1L else r.getLong(6)))).toMap
    // A{1,2} vs B{1,3} in N=4: balanced 2x2 -> OR exactly 1.0
    assert(out(("A", "B")) === ((1L, 1L, 1L, 1L, 1000L)))
    // C == A: n10 = 0 -> OR undefined, surfaced as NULL
    assert(out(("A", "C")) === ((2L, 0L, 0L, 2L, -1L)))
  }

  // ---- audienceOverlap ----

  test("audienceOverlap: exact pair Jaccard over distinct user sets") {
    import graft.operators.EventAnalytics
    val ev = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 3L), // dup collapses
      ("b", 2L), ("b", 3L), ("b", 4L), ("b", 5L)).toDF("t", "u")
    val r = EventAnalytics.audienceOverlap(ev, col("t"), col("u")).collect()
    assert(r.length === 1)
    assert(r(0).toSeq === Seq("a", "b", 3L, 4L, 2L, 400000L))
  }

  // ---- weightedQuantiles ----

  test("weightedQuantiles: weight-rank selection, zero weights unselectable") {
    // values 1..9 at weight 1 each + a whale at v=10 carrying 91:
    // the weighted median IS the whale (unweighted would say 5)
    val df = ((1L to 9L).map(v => ("g", v, 1L)) :+ (("g", 10L, 91L)))
      .toDF("g", "v", "w")
    val out = Stats.weightedQuantiles(df, Seq("g"), col("v"), col("w"),
        Seq(100, 500))
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(out(500) === 10L)
    assert(out(100) === 10L) // rank 10 of 100 is already inside the whale
    // zero-weight value: cum and cum-w coincide -> never selected
    val z = Seq(("g", 0L, 0L), ("g", 5L, 2L)).toDF("g", "v", "w")
    val zq = Stats.weightedQuantiles(z, Seq("g"), col("v"), col("w"),
      Seq(1, 1000)).collect().map(_.getLong(2))
    assert(zq.toSeq === Seq(5L, 5L))
  }

  // ---- fanoFactor ----

  test("fanoFactor: constant series 0, bursty 2e6, hand Poisson-ish 5e5") {
    val df = Seq(("c", 2L), ("c", 2L), ("c", 2L),
      ("b", 0L), ("b", 4L),
      ("p", 0L), ("p", 2L), ("p", 1L), ("p", 1L)).toDF("g", "cnt")
    val out = Stats.fanoFactor(df, Seq("g"), col("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out === Map("c" -> 0L, "b" -> 2000000L, "p" -> 500000L))
  }

  // ---- windowedFunnel ----

  test("windowedFunnel: reachability beats greedy; equal seconds don't advance") {
    import graft.operators.EventAnalytics
    val ev = Seq(
      // x: greedy-from-earliest view(0) strands the click; the view at
      // 995 anchors it. purchase at 1500 is 500s past the click.
      ("x", "view", 0L), ("x", "view", 995L), ("x", "click", 1000L),
      ("x", "purchase", 1500L),
      // y: click at the same second as the view -> no advance
      ("y", "view", 10L), ("y", "click", 10L),
      // z: no step events at all -> reached 0 via the universe join
      ("z", "error", 5L)
    ).toDF("user_id", "event_type", "sec")
      .withColumn("ts", to_timestamp(col("sec")))
    def run(gap: Long) =
      EventAnalytics.windowedFunnel(ev, Seq("view", "click", "purchase"),
        maxGapSec = gap)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(run(100L) === Map("x" -> 2, "y" -> 1, "z" -> 0))
    assert(run(600L) === Map("x" -> 3, "y" -> 1, "z" -> 0))
  }

  // ---- prefixSums / abcClassify ----

  test("abcClassify: exact cutoff boundaries, duplicate keys pre-aggregated") {
    // values 50/30/15/5 -> cum 50,80,95,100: b lands exactly on 80 (A),
    // c exactly on 95 (B), d is C
    val df = Seq(("a", 50L), ("b", 20L), ("b", 10L), ("c", 15L), ("d", 5L))
      .toDF("k", "v")
    val out = Ranking.abcClassify(df, col("k"), col("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out("a") === ((50L, 50L, "A")))
    assert(out("b") === ((30L, 80L, "A")))
    assert(out("c") === ((15L, 95L, "B")))
    assert(out("d") === ((5L, 100L, "C")))
  }

  test("prefixSums matches a single-partition running sum on shuffled input") {
    val rng = new scala.util.Random(11)
    val rows = rng.shuffle((1 to 500).map(i => (i.toLong, rng.nextInt(100).toLong)))
    val df = rows.toDF("k", "v").repartition(13)
    val got = Ranking.prefixSums(df, Seq(col("k").asc), col("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    var cum = 0L
    rows.sortBy(_._1).foreach { case (k, v) =>
      cum += v
      assert(got(k) === cum, s"at k=$k")
    }
  }

  // ---- growthAccounting ----

  test("growthAccounting: dau = new+retained+resurrected; churn identity") {
    import graft.operators.EventAnalytics
    val ev = Seq(("a", 1L), ("a", 2L), ("a", 5L), ("b", 2L), ("b", 3L),
      ("c", 1L), ("c", 2L), ("c", 2L) // duplicate (user, day) collapses
    ).toDF("user_id", "d")
    val out = EventAnalytics.growthAccounting(ev, col("user_id"), col("d"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(out(1L) === ((2L, 2L, 0L, 0L, 0L)))
    assert(out(2L) === ((3L, 1L, 2L, 0L, 0L)))
    // day 3: only b retained; a and c churn against day 2's dau of 3
    assert(out(3L) === ((1L, 0L, 1L, 0L, 2L)))
    // day 5: a resurrects after the gap; day 4 had no actives
    assert(out(5L) === ((1L, 0L, 0L, 1L, 0L)))
    out.values.foreach { case (dau, nw, rt, rs, _) =>
      assert(dau === nw + rt + rs) // the decomposition is a partition
    }
  }

  // ---- activityStreaks ----

  test("activityStreaks: island lengths, longest-then-earliest tie-break") {
    import graft.operators.EventAnalytics
    val ev = Seq(("a", 1L), ("a", 2L), ("a", 5L),
      ("d", 1L), ("d", 2L), ("d", 4L), ("d", 5L)).toDF("user_id", "d")
    val out = EventAnalytics.activityStreaks(ev, col("user_id"), col("d"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("a") === ((3L, 2L, 2L, 1L)))
    // two equal-length streaks -> the earliest start wins
    assert(out("d") === ((4L, 2L, 2L, 1L)))
  }

  // ---- slidingBurst ----

  test("slidingBurst: event-anchored sliding max, peers, earliest peak") {
    import graft.operators.EventAnalytics
    val ev = Seq(
      ("u", 0L), ("u", 50L), ("u", 3649L), ("u", 7000L),
      // same-second peers all land in each other's frame
      ("w", 10L), ("w", 10L), ("w", 10L)
    ).toDF("user_id", "sec")
      .withColumn("ts", to_timestamp(col("sec")))
    val out = EventAnalytics.slidingBurst(ev, col("user_id"), col("ts"),
        windowSec = 3600L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // u: windows ending 0->1, 50->2, 3649->{50,3649}=2, 7000->1;
    // max 2 first reached at end-second 50
    assert(out("u") === ((4L, 2L, 50L)))
    assert(out("w") === ((3L, 3L, 10L)))
  }

  // ---- shapleyAttribution ----

  test("shapleyAttribution: textbook 2-player values, efficiency, negatives") {
    import graft.operators.EventAnalytics
    // coalitions: {a} users u1(conv) u2(no) -> v=500000; {b} u3(conv) -> 1e6;
    // {a,b} u4(conv) -> 1e6; {} u5(conv-only) -> 1e6 baseline
    val ev = Seq(
      (1L, "a"), (1L, "conv"), (2L, "a"),
      (3L, "b"), (3L, "conv"),
      (4L, "a"), (4L, "b"), (4L, "conv"),
      (5L, "conv"),
      (6L, "zz") // outside the universe: not in the population at all
    ).toDF("user_id", "event_type")
    val out = EventAnalytics.shapleyAttribution(ev, Seq("a", "b"), "conv")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // phi_a = [W1*v({a}) + W2*v({ab}) - W0*v({}) - W1*v({b})] / 2!
    //       = [500000 + 1000000 - 1000000 - 1000000] / 2 = -250000
    assert(out("a") === -250000L)
    assert(out("b") === 250000L)
    // efficiency: sum phi = v(all) - v(empty) = 0, exactly
    assert(out.values.sum === 0L)
    intercept[IllegalArgumentException] {
      EventAnalytics.shapleyAttribution(ev, Seq("a", "conv"), "conv")
    }
  }

  // ---- flipFlops ----

  test("flipFlops: A->B->A within the gap; NULLs and slow reverts don't") {
    val df = Seq(
      // k1: A(0) B(5) A(9) -> flip at day 9 (gap 9 <= 30)
      (1L, "A", 0, 1L), (1L, "B", 5, 2L), (1L, "A", 9, 3L),
      // k2: revert outside the gap window
      (2L, "A", 0, 1L), (2L, "B", 5, 2L), (2L, "A", 99, 3L),
      // k3: A A A — no change, no flip
      (3L, "A", 0, 1L), (3L, "A", 1, 2L), (3L, "A", 2, 3L),
      // k4: NULL -> B -> NULL is missing data, not a flip
      (4L, null, 0, 1L), (4L, "B", 1, 2L), (4L, null, 2, 3L),
      // k5: alternating history A B A B A — every row from the 3rd on reverts
      (5L, "A", 0, 1L), (5L, "B", 1, 2L), (5L, "A", 2, 3L),
      (5L, "B", 3, 4L), (5L, "A", 4, 5L)
    ).toDF("k", "v", "d", "i")
    val out = Profile.flipFlops(df, col("k"), col("v"), col("d"), col("i"),
        maxGapDays = 30)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out === Map(1L -> ((1L, 9)), 5L -> ((3L, 4))))
  }

  // ---- wilsonInterval ----

  test("wilsonInterval: bounds equal the locally computed IEEE expression") {
    import graft.pipeline.Inference
    val df = (Seq.fill(40)(true) ++ Seq.fill(60)(false)).map(("g", _))
      .toDF("g", "ok")
    val r = Inference.wilsonInterval(df, Seq("g"), col("ok")).collect()(0)
    assert((r.getLong(1), r.getLong(2)) === ((100L, 40L)))
    val nn = 100.0; val cc = 40.0
    val phat = cc / nn
    val denom = 1.0 + 3.8416 / nn
    val center = (phat + 3.8416 / (2.0 * nn)) / denom
    val half = (1.96 * math.sqrt((phat * (1.0 - phat) + 3.8416 / (4.0 * nn))
      / nn)) / denom
    assert(r.getDouble(3) === center - half)
    assert(r.getDouble(4) === center + half)
    // sanity: brackets the point estimate, inside [0, 1]
    assert(r.getDouble(3) > 0.30 && r.getDouble(3) < 0.40)
    assert(r.getDouble(4) > 0.40 && r.getDouble(4) < 0.51)
  }

  // ---- neighborhoodFunction ----

  test("neighborhoodFunction: path-graph registers grow exactly; eff_radius per node") {
    import spark.implicits._
    // directed path 1 -> 2 -> 3 (md5 buckets c4/c8/ec — no collisions):
    // B_r(1) = {1},{1,2},{1,2,3}; B_r(2) = {2},{2,3},{2,3}; B_r(3) = {3}
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = graft.operators.Graph.neighborhoodFunction(e, "src", "dst",
      rounds = 2, probe = _ => lit(true))
      .collect().map(r => r.getAs[Long]("node") -> r).toMap
    def nb(n: Long, c: String) = out(n).getAs[Long](c)
    assert((nb(1L, "nb_0"), nb(1L, "nb_1"), nb(1L, "nb_2")) === ((1L, 2L, 3L)))
    assert((nb(2L, "nb_0"), nb(2L, "nb_1"), nb(2L, "nb_2")) === ((1L, 2L, 2L)))
    assert((nb(3L, "nb_0"), nb(3L, "nb_1"), nb(3L, "nb_2")) === ((1L, 1L, 1L)))
    // register-count radius: exact at tiny scale where the RAW HLL
    // estimate is biased (documented — no ln available for the
    // linear-counting correction)
    assert(out(1L).getAs[Long]("eff_radius") === 2L)
    assert(out(2L).getAs[Long]("eff_radius") === 1L)
    assert(out(3L).getAs[Long]("eff_radius") === 0L)
    // a saturated node's registers stop changing: est_1 == est_2 bitwise
    assert(out(2L).getAs[Double]("est_1") === out(2L).getAs[Double]("est_2"))
    // raw estimates are monotone nondecreasing in the ball
    assert(out(1L).getAs[Double]("est_2") > out(1L).getAs[Double]("est_0"))
    // probe bounds OUTPUT only
    val probed = graft.operators.Graph.neighborhoodFunction(e, "src", "dst",
      rounds = 2, probe = n => n === 1L).collect()
    assert(probed.length === 1 && probed(0).getAs[Long]("node") === 1L)
  }

  test("neighborhoodFunction: packed registers digit-match hllRegisters over the explicit ball") {
    import spark.implicits._
    // 40-node graph with hub structure (i -> i%7, i -> i+1): enough
    // bucket collisions to exercise the element-wise max, small enough to
    // enumerate the true 2-hop balls with plain joins. The packed-vector
    // propagation must produce EXACTLY the estimate hllEstimate gives on
    // hllRegisters over the enumerated ball — the packing is a bijection,
    // not an approximation.
    val edges = (0L until 40L).flatMap(i => Seq((i, i % 7L), (i, (i + 1L) % 40L)))
      .toDF("src", "dst").distinct()
    val out = graft.operators.Graph.neighborhoodFunction(
      edges.filter(col("src") =!= col("dst")), "src", "dst",
      rounds = 2, probe = _ => lit(true))
      .collect().map(r => r.getAs[Long]("node") -> r).toMap
    // explicit 2-hop ball: node + neighbors + neighbors-of-neighbors
    val e = edges.filter(col("src") =!= col("dst"))
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("t"))
      .distinct()
    val nodes = e.select(col("s").as("node")).union(e.select(col("t"))).distinct()
    val hop1 = nodes.join(e.withColumnRenamed("s", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("t"), col("node")).as("member"))
      .union(nodes.select(col("node"), col("node")))
      .distinct()
    val hop2 = hop1.join(e.withColumnRenamed("s", "member"), Seq("member"), "left")
      .select(col("node"), coalesce(col("t"), col("member")).as("member"))
      .union(hop1).distinct()
    val regs = graft.functions.Sketches.hllRegisters(hop2, Seq("node"), col("member"))
    val ref = graft.functions.Sketches.hllEstimate(regs, Seq("node"))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("hll_estimate")).toMap
    ref.foreach { case (n, est) =>
      assert(out(n).getAs[Double]("est_2") === est, s"node $n")
    }
  }

  test("neighborhoodFunction: raw estimate calibrated once the ball passes ~2.5m") {
    import spark.implicits._
    // star: 0 -> 1..800; center's 1-hop ball = 801 elements >= 2.5*256,
    // where the raw estimator is within ~10%
    val e = (1L to 800L).map(i => (0L, i)).toDF("src", "dst")
    val out = graft.operators.Graph.neighborhoodFunction(e, "src", "dst",
      rounds = 2, probe = n => n === 0L).collect()(0)
    assert(math.abs(out.getAs[Double]("est_1") - 801.0) < 80.0)
    assert(out.getAs[Double]("est_2") === out.getAs[Double]("est_1"))
    assert(out.getAs[Long]("eff_radius") === 1L)
  }
}
