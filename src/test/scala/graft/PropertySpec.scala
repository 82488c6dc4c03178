package graft

import java.time.LocalDate
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{GapEngine, MeasureSpec, Scenario, TriStateRules}
import graft.engine.{Incremental, Snapshot}
import graft.queries.Scratch

/** Property-style tests (SURVEY §5) over deterministic random inputs (fixed
  * seeds): tri-state invariants hold BY CONSTRUCTION on arbitrary inputs;
  * merge is idempotent; SCD2 validity intervals never overlap per key.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val spec = MeasureSpec("COL", 45, 75, Seq(
    Scenario("COLONOSCOPY", Seq("C1"), Some(10), 1),
    Scenario("FIT_FOBT", Seq("F1"), None, 5)), "COL_V1")
  private val rules = TriStateRules("gap_flag",
    Seq("member_id", "measure_id", "measurement_year"),
    closedRequires = Seq("closure_date", "closure_reason", "evidence_id"),
    notQualifiedForbids = Seq("closure_date", "closure_reason", "evidence_id"))

  test("gap engine output never violates the tri-state rules (A/C/D by construction)") {
    (1 to 8).foreach { seed =>
      val rnd = new Random(seed)
      val nM = 1 + rnd.nextInt(30)
      val members = (1 to nM).map(i =>
          (i.toLong, LocalDate.of(1970, 1, 1).plusDays(rnd.between(-20000, 25000)).toString))
        .toDF("member_id", "bd").select($"member_id", to_date($"bd").as("birth_date"))
      val events = (0 until rnd.nextInt(60)).map { i =>
        (i.toLong, 1L + rnd.nextInt(nM),
          Seq("C1", "F1", "XX")(rnd.nextInt(3)),
          LocalDate.of(2025, 12, 31).minusDays(rnd.nextInt(4000)).toString)
      }.toDF("evidence_id", "member_id", "code", "dt")
        .select($"evidence_id", $"member_id", $"code", to_date($"dt").as("event_date"))
      val status = GapEngine.status(spark, members, events, spec, Nil, LocalDate.of(2025, 12, 31))
      assert(rules.violations(status).isEmpty, s"violations at seed $seed")
    }
  }

  test("merge idempotence: applying the same batch twice is a fixpoint") {
    (1 to 6).foreach { seed =>
      val rnd = new Random(seed)
      val tgt = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      val src = (0 until rnd.nextInt(15))
        .map(_ => (1L + rnd.nextInt(20), rnd.alphanumeric.take(4).mkString))
        .toDF("k", "v").dropDuplicates("k")
      val once = Incremental.merge(tgt, src, Seq("k"))
      val twice = Incremental.merge(once, src, Seq("k"))
      assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty, s"seed $seed")
    }
  }

  test("SCD2 validity intervals never overlap per key (random change sequences)") {
    def t(n: Int) = java.sql.Timestamp.valueOf(f"2024-${n + 1}%02d-01 00:00:00")
    (1 to 6).foreach { seed =>
      val rnd = new Random(seed)
      val s0 = Seq((1L, "init"), (2L, "init")).toDF("k", "v")
      var hist = Snapshot.firstRun(s0, Seq("k"), Snapshot.CheckStrategy(Seq("v"), t(0)))
      (1 to 3).foreach { i =>
        val src = (1L to 8L).filter(_ => rnd.nextBoolean())
          .map(k => (k, Seq("x", "y", "z")(rnd.nextInt(3))))
          .toDF("k", "v")
        hist = Snapshot.apply(hist, src, Seq("k"),
          Snapshot.CheckStrategy(Seq("v"), t(i)), Snapshot.Invalidate, t(i))
      }
      val rows = hist.select("k", "dbt_valid_from", "dbt_valid_to").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), Option(r.getTimestamp(2))))
      rows.groupBy(_._1).foreach { case (k, versions) =>
        assert(versions.count(_._3.isEmpty) <= 1, s"seed $seed key $k: >1 open row")
        val sorted = versions.sortBy(_._2.getTime)
        sorted.sliding(2).foreach {
          case Array((_, _, Some(closedTo)), (_, from2, _)) =>
            assert(!from2.before(closedTo), s"seed $seed key $k: overlapping versions")
          case _ => ()
        }
      }
    }
  }

  /** Random word-soup corpus with planted near-duplicates. */
  private def randomDocs(seed: Int, nDocs: Int) = {
    val rnd = new Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    def doc() = (1 to 5 + rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (1 to nDocs).map(i => (i.toLong, doc()))
    // plant near-dups: copy an earlier doc with one word appended
    val dups = base.take(nDocs / 3).map { case (i, t) =>
      (i + 1000L, t + " " + vocab(rnd.nextInt(vocab.size)))
    }
    (base ++ dups).map { case (i, t) => (i, t, "b0") }
      .toDF("doc_id", "text", "blk")
  }

  test("prefix-filter Jaccard join == naive all-pairs (random corpora)") {
    import graft.pipeline.{Dedup, TextAnalysis}
    (1 to 4).foreach { seed =>
      val docs = randomDocs(seed, 24)
      val t = 0.4
      val fast = Dedup.ngramJaccardPairs(docs, "blk", n = 3, threshold = t)
        .select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
      // naive reference: explicit cross join + exact jaccard
      val sh = docs.select($"doc_id".as("id"),
        TextAnalysis.shinglesFromTokens($"text", TextAnalysis.tokens($"text"), 3).as("sh"))
      val naive = sh.select($"id".as("id_a"), $"sh".as("sh_a"))
        .crossJoin(sh.select($"id".as("id_b"), $"sh".as("sh_b")))
        .filter($"id_a" < $"id_b")
        .withColumn("jaccard", Dedup.jaccard($"sh_a", $"sh_b"))
        .filter($"jaccard" >= t)
        .select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
      assert(fast === naive, s"prefix-filter join diverged from naive at seed $seed")
    }
  }

  test("fuzzyLink selfPairs: exact precision; structural recall for single edits") {
    import graft.operators.FuzzyLink
    val rnd = new scala.util.Random(11)
    def randStr(len: Int) = (1 to len).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
    def edit(s: String): String = rnd.nextInt(3) match {
      case 0 => // substitute
        val i = rnd.nextInt(s.length)
        s.updated(i, ('a' + rnd.nextInt(6)).toChar)
      case 1 => // delete
        val i = rnd.nextInt(s.length); s.take(i) + s.drop(i + 1)
      case _ => // insert
        val i = rnd.nextInt(s.length + 1)
        s.take(i) + ('a' + rnd.nextInt(6)).toChar + s.drop(i)
    }
    (1 to 3).foreach { _ =>
      val bases = (0 until 14).map(i => (i.toLong, randStr(12 + rnd.nextInt(6))))
      val dirty = bases.take(6).map { case (i, s) => (100L + i, edit(s)) }
      val df = (bases ++ dirty).toDF("id", "k")
      val fast = FuzzyLink.selfPairs(df, $"id", $"k", maxDist = 2,
        blockLen = 4, maxBlockSize = 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val naive = df.select($"id".as("id_a"), $"k".as("ka"))
        .crossJoin(df.select($"id".as("id_b"), $"k".as("kb")))
        .filter($"id_a" < $"id_b" && levenshtein($"ka", $"kb") <= 2)
        .select($"id_a", $"id_b", levenshtein($"ka", $"kb").as("d"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // precision is exact: every reported pair is a true <=2-edit pair
      assert(fast.subsetOf(naive), s"false positives: ${fast -- naive}")
      // recall is STRUCTURAL at distance 1 (keys > 2*blockLen): a single
      // edit cannot disturb both the first-4 and the last-4 characters
      val dist1 = naive.filter(_._3 <= 1)
      assert(dist1.subsetOf(fast), s"missed single-edit pairs: ${dist1 -- fast}")
    }
  }

  test("exactSubstringScrub == naive first-occurrence scan (random corpora with planted spans)") {
    import graft.pipeline.Dedup
    val k = 5
    (1 to 4).foreach { seed =>
      val rnd = new Random(seed * 31)
      val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
      def doc(n: Int) = (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val base = (1 to 20).map(i => (i.toLong, doc(4 + rnd.nextInt(25))))
      // plant shared spans: later docs embed an earlier doc's full text
      // inside fresh noise (span crosses no delimiter — the case paragraph
      // dedup cannot see), plus one exact whole-doc copy
      val planted = base.take(6).map { case (i, t) =>
        (i + 100L, doc(3) + " " + t + " " + doc(3))
      }
      val rows = (base ++ planted) :+ ((999L, base.head._2))
      val got = Dedup.exactSubstringScrub(rows.toDF("doc_id", "text"), k)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      // naive reference: sequential scan in global (doc, pos) order with a
      // seen-gram set; a gram seen before covers its k positions
      val seen = scala.collection.mutable.Set.empty[String]
      val expected = rows.sortBy(_._1).map { case (id, t) =>
        val toks = t.split(" ")
        val covered = Array.fill(toks.length)(false)
        for (p <- 0 to toks.length - k) {
          val gram = toks.slice(p, p + k).mkString(" ")
          if (seen.contains(gram)) (p until p + k).foreach(covered(_) = true)
          else seen += gram
        }
        val kept = toks.indices.filterNot(covered).map(toks)
        (id, kept.mkString(" "), toks.length.toLong,
          kept.length.toLong)
      }
      assert(got === expected, s"exactSubstringScrub diverged from naive at seed $seed")
      // planted copies must be scrubbed: the whole-doc copy survives with
      // nothing (its text was seen at doc 1) when long enough to shingle
      val copyRow = got.find(_._1 == 999L).get
      if (base.head._2.split(" ").length >= k)
        assert(copyRow._2 === "" && copyRow._4 === 0L, s"copy not scrubbed: $copyRow")
      // docs shorter than k tokens survive whole
      got.filter(_._3 < k).foreach(r => assert(r._4 === r._3, s"short doc scrubbed: $r"))
    }
  }

  test("incremental dedup two-run == batch minhashPairs (random corpora)") {
    import graft.pipeline.{Dedup, IncrementalDedup}
    import graft.engine.Warehouse
    (1 to 3).foreach { seed =>
      val docs = randomDocs(seed + 50, 30).select($"doc_id", $"text")
      val wh = new Warehouse(
        Scratch.tempDir("graft_incdedup_p").toString, spark)
      val name = s"incdd_p$seed"
      try {
        def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
        val corpus = docs.filter($"doc_id" % 3 =!= 0)
        val delta = docs.filter($"doc_id" % 3 === 0)
        val p1 = pairSet(IncrementalDedup.initRun(wh, name, corpus,
          n = 3, k = 8, bandSize = 2, threshold = 0.4, nBuckets = 4))
        val p2 = pairSet(IncrementalDedup.deltaRun(wh, name, delta,
          n = 3, k = 8, bandSize = 2, threshold = 0.4, nBuckets = 4))
        val batch = pairSet(Dedup.minhashPairs(docs,
          n = 3, k = 8, bandSize = 2, threshold = 0.4))
        assert(p1.union(p2) === batch, s"two-run != batch at seed $seed")
        // run 2 emits EXACTLY the delta-touching pairs, run 1 the rest
        assert(p2 === batch.filter(p => p._1 % 3 == 0 || p._2 % 3 == 0), s"seed $seed")
        assert(p1 === batch.filter(p => p._1 % 3 != 0 && p._2 % 3 != 0), s"seed $seed")
      } finally Seq(s"${name}_bands", s"${name}_sh").foreach(wh.drop)
    }
  }

  test("bpeEncodeWord == classic lowest-rank-first BPE (random words, learned-shape rules)") {
    import graft.pipeline.TextAnalysis
    // classic encoder: repeatedly merge the lowest-ranked pair present,
    // one greedy left-to-right sweep per iteration
    def classic(word: String, merges: Seq[(String, String)]): Seq[String] = {
      val rank = merges.zipWithIndex.toMap
      var syms = word.map(_.toString).toVector
      var changed = true
      while (changed) {
        val present = syms.indices.dropRight(1)
          .flatMap(i => rank.get((syms(i), syms(i + 1))))
        changed = present.nonEmpty
        if (changed) {
          val (a, b) = merges(present.min)
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.result()
        }
      }
      syms
    }
    (1 to 4).foreach { seed =>
      val rnd = new Random(seed * 17)
      val alphabet = Vector("a", "b", "c")
      // learned-shape rules: each rule merges two symbols already in the
      // pool, and its product joins the pool (so chained rules occur)
      val pool = scala.collection.mutable.ArrayBuffer(alphabet: _*)
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (merges.size < 8) {
        val r = (pool(rnd.nextInt(pool.size)), pool(rnd.nextInt(pool.size)))
        if (!merges.contains(r)) { merges += r; pool += (r._1 + r._2) }
      }
      val words = (1 to 40).map(_ =>
        (1 to 1 + rnd.nextInt(12)).map(_ => alphabet(rnd.nextInt(3))).mkString)
      val got = words.toDF("w")
        .select($"w", TextAnalysis.bpeEncodeWord($"w", merges.toSeq).as("enc"))
        .as[(String, Seq[String])].collect().toMap
      words.distinct.foreach { w =>
        assert(got(w) === classic(w, merges.toSeq),
          s"seed $seed word $w rules $merges: ${got(w)} != ${classic(w, merges.toSeq)}")
      }
    }
  }

  test("asOf join == naive join-then-latest (random timelines)") {
    import graft.operators.AsOfJoin
    import org.apache.spark.sql.expressions.Window
    (1 to 4).foreach { seed =>
      val rnd = new Random(seed)
      val points = (0 until 80).map(i =>
        (rnd.nextInt(8).toLong, i.toLong, rnd.nextInt(1000))).toDF("k", "pid", "pts")
      val intervals = (0 until 40).map(i =>
        (rnd.nextInt(8).toLong, rnd.nextInt(1000), s"v$i")).toDF("k", "rts", "tag")
      val fast = AsOfJoin.asOf(points, intervals, Seq("k"), "pts", "rts",
          rightTieBreak = None)
        .collect().map(r => r.getLong(1) ->
          (if (r.isNullAt(3)) None else Some(r.getInt(3) -> r.getString(4)))).toMap
      // naive: inner join on k && rts <= pts, latest rts per point; points
      // with no qualifying interval re-attach with None via the left join
      val w = Window.partitionBy("pid").orderBy(col("rts").desc, col("tag").desc)
      val matched = points.join(intervals, Seq("k"))
        .filter(col("rts") <= col("pts"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("pid"), col("rts"), col("tag"))
      val naive = points.join(matched, Seq("pid"), "left")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(3)) None else Some(r.getInt(3) -> r.getString(4)))).toMap
      assert(fast.keySet === naive.keySet, s"row sets diverged at seed $seed")
      // compare the matched timestamp (the tag may differ on exact (k, ts)
      // duplicates without an explicit tie-break — that case is documented)
      fast.foreach { case (pid, m) =>
        assert(m.map(_._1) === naive(pid).map(_._1), s"ts diverged at seed $seed pid $pid")
      }
    }
  }

  test("connectedComponents == driver-side union-find (random graphs)") {
    import graft.pipeline.Dedup
    (1 to 6).foreach { seed =>
      val rnd = new Random(seed)
      val n = 5 + rnd.nextInt(60)
      // mix of chains (worst case for label propagation), random edges, and
      // isolated pairs
      val edges = ((0 until n).flatMap { _ =>
        val a = rnd.nextInt(200).toLong; val b = rnd.nextInt(200).toLong
        if (a == b) None else Some((a, b))
      } ++ (0 until 5).map(i => (1000L + i, 1001L + i))).distinct
      // default path (driver union-find under the threshold)
      val out = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // distributed star iteration (threshold 0 forces it) must agree
      val outDist = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
          driverUnionFindMaxEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out === outDist, s"driver vs distributed CC diverged at seed $seed")
      // naive union-find
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(k => k -> find(k)).toMap
      assert(out === expected, s"components diverged at seed $seed")
    }
  }

  test("sign-LSH near-dup band join == naive sketch-agreement all-pairs (random vectors)") {
    import graft.pipeline.Similarity
    (1 to 4).foreach { seed =>
      val rnd = new Random(seed)
      val vecs = (0 until 40).map { i =>
        (i.toLong, Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat))
      }.toDF("vec_id", "embedding")
      val t = 0.3
      val fast = Similarity.nearDupPairsLsh(vecs, threshold = t)
        .select("id_a", "id_b", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
      // naive reference: explicit cross join, pair kept iff SOME 4-bit band
      // of the sign sketch agrees, scored with the same quantized cosine
      val sk = vecs.select($"vec_id".as("id"),
        Similarity.quantize($"embedding").as("v"),
        (0 until 16).map(i =>
          when(element_at($"embedding", i + 1) >= 0, lit(1 << i)).otherwise(lit(0)))
          .reduce(_ + _).as("sketch"))
      val anyBand = (0 until 4).map { j =>
        shiftright($"sk_a", j * 4).bitwiseAND(lit(15)) ===
          shiftright($"sk_b", j * 4).bitwiseAND(lit(15))
      }.reduce(_ || _)
      val naive = sk.select($"id".as("id_a"), $"v".as("va"), $"sketch".as("sk_a"))
        .crossJoin(sk.select($"id".as("id_b"), $"v".as("vb"), $"sketch".as("sk_b")))
        .filter($"id_a" < $"id_b" && anyBand)
        .withColumn("score", Similarity.cosineQ($"va", $"vb"))
        .filter($"score" >= t)
        .select("id_a", "id_b", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
      assert(fast === naive, s"sign-LSH band join diverged from naive at seed $seed")
    }
  }

  test("simhash band join == naive all-pairs (random corpora)") {
    import graft.pipeline.{Dedup, TextAnalysis}
    (1 to 4).foreach { seed =>
      val docs = randomDocs(seed, 24)
      val fast = Dedup.simhashPairs(docs, "blk", maxDist = 3)
        .select("id_a", "id_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val sk = docs.select($"doc_id".as("id"),
        Dedup.simhash16(TextAnalysis.tokens($"text")).as("sketch"))
      val naive = sk.select($"id".as("id_a"), $"sketch".as("sk_a"))
        .crossJoin(sk.select($"id".as("id_b"), $"sketch".as("sk_b")))
        .filter($"id_a" < $"id_b")
        .withColumn("hamming", Dedup.hamming16($"sk_a", $"sk_b"))
        .filter($"hamming" <= 3)
        .select("id_a", "id_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(fast === naive, s"band join diverged from naive at seed $seed")
    }
  }

  test("chunking invariants on random docs: count formula, coverage, reconstruction") {
    import graft.pipeline.TextAnalysis
    (1 to 6).foreach { seed =>
      val rnd = new Random(seed)
      val chunk = 2 + rnd.nextInt(6)           // 2..7
      val stride = 1 + rnd.nextInt(chunk)      // 1..chunk
      val docs = (1 to 20).map { id =>
        (id.toLong, (1 to (1 + rnd.nextInt(25))).map(i => s"w$i").mkString(" "))
      }
      val out = docs.toDF("id", "text")
        .select($"id", TextAnalysis.tokens($"text").as("toks"))
        .select($"id", explode(TextAnalysis.chunksFromTokens($"toks", chunk, stride)).as("c"))
        .select($"id", $"c.chunk_id", $"c.chunk", $"c.n_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .groupBy(_._1)
      docs.foreach { case (id, text) =>
        val toks = text.split(" ")
        val n = toks.length
        val chunks = out(id).sortBy(_._2)
        val expected = if (n <= chunk) 1 else 1 + math.ceil((n - chunk).toDouble / stride).toInt
        assert(chunks.length === expected, s"seed $seed doc $id: chunk count")
        // every chunk is the exact token window it claims to be
        chunks.foreach { case (_, i, c, nt) =>
          val want = toks.slice((i * stride).toInt, (i * stride).toInt + chunk)
          assert(c === want.mkString(" "), s"seed $seed doc $id chunk $i")
          assert(nt === want.length.toLong)
        }
        // full coverage: union of windows is the whole doc
        assert(chunks.flatMap(_._3.split(" ")).toSet === toks.toSet,
          s"seed $seed doc $id: coverage")
      }
    }
  }

  test("stratified split proportions hold within one row per stratum on random sizes") {
    import graft.pipeline.Sampling
    (1 to 6).foreach { seed =>
      val rnd = new Random(seed)
      val strata = (1 to (2 + rnd.nextInt(4))).map(s => s"s$s" -> (1 + rnd.nextInt(40)))
      val rows = strata.flatMap { case (name, sz) =>
        (1 to sz).map(i => (name.hashCode.toLong * 1000 + i, name))
      }
      val out = Sampling.stratifiedSplit(rows.toDF("id", "stratum"),
          Seq("stratum"), $"id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          salt = s"seed$seed")
        .collect().map(r => (r.getString(1), r.getString(2)))
      strata.foreach { case (name, sz) =>
        val counts = out.filter(_._1 == name).groupBy(_._2).view.mapValues(_.size).toMap
        // exact integer cutoffs: train = floor(0.8 n), train+val = floor(0.9 n)
        val train = sz * 800 / 1000
        val trainVal = sz * 900 / 1000
        assert(counts.getOrElse("train", 0) === train,
          s"seed $seed stratum $name ($sz rows): $counts")
        assert(counts.getOrElse("val", 0) === trainVal - train)
        assert(counts.getOrElse("test", 0) === sz - trainVal)
        assert(counts.values.sum === sz)
      }
    }
  }

  test("paragraph dedup == naive global first-occurrence scan (random corpora)") {
    import graft.pipeline.Dedup
    (1 to 6).foreach { seed =>
      val rnd = new Random(seed)
      val paraPool = (0 until 8).map(i => s"para$i")
      val corpus = (1L to (5 + rnd.nextInt(20)).toLong).map { id =>
        val n = 1 + rnd.nextInt(5)
        (id, Seq.fill(n)(paraPool(rnd.nextInt(paraPool.size))).mkString("\n"))
      }
      val out = Dedup.dropRepeatedParagraphs(corpus.toDF("doc_id", "text"), delim = "\n")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
        .toMap
      // naive reference: walk docs in (id, pos) order, keep first sightings
      val seen = scala.collection.mutable.Set.empty[String]
      corpus.foreach { case (id, text) =>
        val paras = text.split("\n", -1)
        val kept = paras.filter(seen.add) // add returns true on first sighting
        assert(out(id) === ((kept.mkString("\n"), paras.length.toLong, kept.length.toLong)),
          s"seed $seed doc $id")
      }
    }
  }

  test("bloom filter never yields a false NEGATIVE (random fp sets, all m/k)") {
    import graft.pipeline.Contamination
    (1 to 4).foreach { seed =>
      val rnd = new Random(seed)
      val inserted = (0 until 1 + rnd.nextInt(40))
        .map(i => s"seed$seed doc $i ${rnd.nextInt()}")
      val fps = inserted.toDF("text")
        .select(graft.pipeline.TextAnalysis.fingerprint($"text").as("f"))
      Seq((64, 1), (128, 3), (1024, 5)).foreach { case (m, k) =>
        val bits = Contamination.bloomBitsOf(fps, "f", m, k)
        val probed = fps.filter(Contamination.bloomMightContain(bits, m, k, $"f")).count()
        assert(probed === inserted.size.toLong,
          s"seed $seed m=$m k=$k: an inserted fingerprint probed negative")
      }
    }
  }

  test("packSequences offsets are the exact running token sums (random corpora)") {
    import graft.pipeline.Sampling
    (1 to 5).foreach { seed =>
      val rnd = new Random(seed)
      val rows = (1L to (10 + rnd.nextInt(60)).toLong).map(i => (i, 1L + rnd.nextInt(20)))
      val seqLen = 1 + rnd.nextInt(30)
      val nShards = 1 + rnd.nextInt(4)
      val out = Sampling.packSequences(rows.toDF("id", "ntok"), $"id", $"ntok",
          seqLen, nShards, salt = s"s$seed")
        .select($"id", $"ntok", $"shard", $"seq_id", $"seq_offset")
        .as[(Long, Long, Int, Long, Long)].collect()
      out.groupBy(_._3).foreach { case (shard, docs) =>
        // reconstruct the stream order from shuffleShards (the same layout)
        val order = Sampling.shuffleShards(rows.toDF("id", "ntok"), $"id", nShards,
            salt = s"s$seed")
          .filter($"shard" === shard).orderBy($"pos")
          .select($"id").as[Long].collect()
        var off = 0L
        order.foreach { id =>
          val d = docs.find(_._1 == id).get
          assert((d._4, d._5) === ((off / seqLen, off % seqLen)),
            s"seed $seed shard $shard doc $id offset $off")
          off += d._2
        }
      }
    }
  }

  test("intervalOverlap == naive theta join (random interval sets)") {
    import graft.operators.RangeJoin
    val epoch = LocalDate.of(2024, 1, 1)
    (1 to 6).foreach { seed =>
      val rnd = new Random(100 + seed)
      def intervals(n: Int) = (1 to n).map { i =>
        val s = rnd.nextInt(400)
        (i.toLong, 1L + rnd.nextInt(4),
          java.sql.Date.valueOf(epoch.plusDays(s)),
          java.sql.Date.valueOf(epoch.plusDays(s + rnd.nextInt(90))))
      }
      val as = intervals(40)
      val bs = intervals(40)
      val aDf = as.toDF("a_id", "k", "a_s", "a_e")
      val bDf = bs.toDF("b_id", "k", "b_s", "b_e")
      // bucket width deliberately SMALLER than max span: multi-bucket
      // replication and the first-shared-bucket dedup both get exercised
      val got = RangeJoin.intervalOverlap(aDf, bDf, Seq("k"),
        "a_s", "a_e", "b_s", "b_e", bucketWidthDays = 14)
        .select($"a_id", $"b_id").as[(Long, Long)].collect().sorted.toSeq
      val want = (for {
        (ai, ak, asd, aed) <- as
        (bi, bk, bsd, bed) <- bs
        if ak == bk && !asd.after(bed) && !bsd.after(aed)
      } yield (ai, bi)).sorted
      assert(got === want, s"seed $seed")
      assert(got.distinct === got, s"seed $seed emitted a pair twice")
    }
  }

  test("funnel == naive per-user scan (random event streams)") {
    import graft.operators.EventAnalytics
    val steps = Seq("A", "B", "C")
    (1 to 6).foreach { seed =>
      val rnd = new Random(200 + seed)
      val events = (1 to 300).map { i =>
        (1L + rnd.nextInt(20), Seq("A", "B", "C", "X")(rnd.nextInt(4)),
          // coarse timestamps force plenty of exact ties
          new java.sql.Timestamp(1700000000000L + rnd.nextInt(50) * 1000L))
      }
      val got = EventAnalytics.funnel(events.toDF("user_id", "event_type", "ts"),
        steps).as[(Long, Int)].collect().toMap
      val want = events.groupBy(_._1).map { case (u, evs) =>
        var reached = 0
        var lastTs = Long.MinValue
        // same deterministic order the engine folds in: (ts, type)
        evs.map(e => (e._3.getTime, e._2)).sorted.foreach { case (t, ty) =>
          if (reached < steps.size && ty == steps(reached) &&
            (reached == 0 || t > lastTs)) { reached += 1; lastTs = t }
        }
        u -> reached
      }
      assert(got === want, s"seed $seed")
    }
  }

  test("madOutliers == naive median/MAD scan (random groups)") {
    import graft.pipeline.Stats
    def lowerMedian(xs: Seq[Long]): Long = {
      val s = xs.sorted
      s((s.size - 1) / 2) // rank ceil(n/2), 1-based == index (n-1)/2
    }
    (1 to 6).foreach { seed =>
      val rnd = new Random(300 + seed)
      val rows = (1 to 400).map { i =>
        (s"g${rnd.nextInt(3)}", (rnd.nextInt(40) + (if (rnd.nextInt(20) == 0) 500 else 0)).toLong, i.toLong)
      }
      val got = Stats.madOutliers(rows.toDF("src", "v", "id"), Seq("src"), $"v", k = 3)
        .select($"id").as[Long].collect().toSet
      val want = rows.groupBy(_._1).flatMap { case (_, grp) =>
        val med = lowerMedian(grp.map(_._2))
        val mad = lowerMedian(grp.map(r => math.abs(r._2 - med)))
        grp.filter(r => math.abs(r._2 - med) > 3 * mad).map(_._3)
      }.toSet
      assert(got === want, s"seed $seed")
    }
  }

  test("bm25TermScores == naive driver-side computation (random corpora)") {
    import graft.pipeline.TextAnalysis
    val vocab = Seq("alpha", "beta", "gamma", "delta", "pad")
    val terms = Seq("alpha", "gamma")
    (1 to 4).foreach { seed =>
      val rnd = new Random(400 + seed)
      val docs = (1L to 50L).map(i =>
        (i, (1 to (1 + rnd.nextInt(12))).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")))
      val got = TextAnalysis.bm25TermScores(docs.toDF("doc_id", "text"), terms)
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val nDocs = docs.size.toLong
      val sumDl = toks.values.map(_.size.toLong).sum
      val avgdl = sumDl.toDouble / nDocs.toDouble
      val want = (for {
        (id, tk) <- toks.toSeq; term <- terms
        tf = tk.count(_ == term).toLong if tf > 0
      } yield {
        val df = toks.values.count(_.contains(term)).toLong
        val dl = tk.size.toLong
        val tfNorm = tf.toDouble * (1.2 + 1.0) /
          (tf.toDouble + 1.2 * ((1.0 - 0.75) + 0.75 * (dl.toDouble / avgdl)))
        val idf = (nDocs.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5)
        (id, term) -> ((tf, df, tfNorm, idf))
      }).toMap
      assert(got.keySet === want.keySet, s"seed $seed")
      got.foreach { case (k, (tf, df, tn, io)) =>
        val (wtf, wdf, wtn, wio) = want(k)
        assert(tf === wtf && df === wdf, s"seed $seed at $k")
        assert(tn === wtn && io === wio, s"seed $seed at $k (bitwise doubles)")
      }
    }
  }

  test("robots wildcard matcher == regex reference on random patterns and paths") {
    // the hand-rolled linear matcher (DoS-safe) must agree everywhere with
    // the regex semantics it replaced: quoted literals joined by .*,
    // lookingAt for unanchored prefixes, matches() for $-anchored — the
    // greedy-left middle placement + end-pinned anchored tail is the
    // subtle part this pins
    import graft.pipeline.Web
    def regexRef(pattern: String, path: String): Boolean = {
      val anchored = pattern.endsWith("$")
      val p = if (anchored) pattern.dropRight(1) else pattern
      val rx = p.split("\\*", -1).map(seg =>
        if (seg.isEmpty) "" else java.util.regex.Pattern.quote(seg)).mkString(".*")
      val m = java.util.regex.Pattern.compile(rx).matcher(path)
      if (anchored) m.matches() else m.lookingAt()
    }
    def matcher(pattern: String, path: String): Boolean =
      !Web.robotsAllowed(Seq(Web.RobotsRule(allow = false, pattern)), path)
    val alphabet = "ab/"
    var checked = 0
    (1 to 3000).foreach { seed =>
      val rnd = new Random(seed)
      def randStr(n: Int) = (1 to n).map(_ => alphabet(rnd.nextInt(3))).mkString
      val pattern = (1 to 1 + rnd.nextInt(4)).map(_ => randStr(rnd.nextInt(3)))
        .mkString("*") + (if (rnd.nextBoolean()) "$" else "")
      val path = randStr(rnd.nextInt(12))
      assert(matcher(pattern, path) === regexRef(pattern, path),
        s"pattern='$pattern' path='$path'")
      checked += 1
    }
    assert(checked === 3000)
  }

  test("enrollment eligibility == sequential-fold reference on random span sets") {
    // independent implementation: a plain sorted fold merges touching
    // spans and applies the anchored-with-bounded-gaps rule — a different
    // code path from the window-plan islands, so a planner-level bug in
    // either diverges here
    def refEligible(spans: Seq[(Int, Int)], lo: Int, hi: Int,
        maxGapDays: Int, maxGaps: Int): Boolean = {
      val clipped = spans.map { case (s, e) => (s.max(lo), e.min(hi)) }
        .filter { case (s, e) => s <= e }.sorted
      if (clipped.isEmpty) return false
      val islands = clipped.tail.foldLeft(Vector(clipped.head)) {
        case (acc, (s, e)) =>
          val (is, ie) = acc.last
          if (s <= ie) acc.init :+ (is, ie.max(e)) else acc :+ (s, e)
      }
      val gaps = islands.sliding(2).collect {
        case Vector((_, e1), (s2, _)) => s2 - e1 }.toSeq
      islands.head._1 <= lo && islands.last._2 >= hi &&
        gaps.size <= maxGaps && gaps.forall(_ <= maxGapDays)
    }
    val rnd = new Random(191)
    val base = LocalDate.of(2024, 1, 1)
    def d(off: Int) = java.sql.Date.valueOf(base.plusDays(off))
    val (lo, hi) = (10, 70) // 60-day requirement window as day offsets
    for (round <- 1 to 20) {
      val members = (1L to 50L).map { m =>
        val spans = (0 until 1 + rnd.nextInt(5)).map { _ =>
          val s = rnd.nextInt(90)
          (s, s + 1 + rnd.nextInt(30))
        }
        m -> spans
      }
      val maxGapDays = rnd.nextInt(12)
      val maxGaps = rnd.nextInt(3)
      val df = members.flatMap { case (m, ss) =>
        ss.map { case (s, e) => (m, d(s), d(e)) } }
        .toDF("member_id", "cov_start", "cov_end")
      val got = GapEngine.continuouslyEnrolledTolerant(df,
          lit(d(lo)), lit(d(hi)), maxGapDays, maxGaps)
        .as[Long].collect().toSet
      val want = members.collect {
        case (m, ss) if refEligible(ss, lo, hi, maxGapDays, maxGaps) => m
      }.toSet
      assert(got === want,
        s"round $round maxGapDays=$maxGapDays maxGaps=$maxGaps: " +
          s"engine=${got.toSeq.sorted} ref=${want.toSeq.sorted}")
    }
  }

  test("Misra-Gries guarantee on random skewed streams: superset + undercount bound") {
    import graft.operators.HeavyHitters
    val rnd = new Random(97)
    for (round <- 1 to 8) {
      val k = 3 + rnd.nextInt(8)
      // zipf-ish stream: few hot items, a long unique tail
      val hot = (1 to 3).flatMap(h => Seq.fill(20 + rnd.nextInt(120))(s"h$h"))
      val tail = (1 to 50 + rnd.nextInt(200)).map(i => s"t${round}_$i")
      val stream = rnd.shuffle(hot ++ tail)
      val n = stream.size
      val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val summary = HeavyHitters.mgSummarize(stream.iterator, k)
      // every item with freq > n/k MUST survive; counts never overcount
      // and undercount by at most n/k (the MG bound)
      truth.foreach { case (item, c) =>
        if (c * k > n)
          assert(summary.contains(item), s"round $round k=$k lost $item ($c > $n/$k)")
        summary.get(item).foreach { est =>
          assert(est <= c && c - est <= n / k,
            s"round $round $item: est $est vs true $c (n/k=${n / k})")
        }
      }
      assert(summary.size <= k)
    }
  }

  test("Kneser-Ney bigram model sums to <= 1 per context on random corpora") {
    import graft.pipeline.TextAnalysis
    val rnd = new Random(41)
    for (round <- 1 to 4) {
      val vocab = ('a' to ('a' + 4 + rnd.nextInt(6)).toChar).map(_.toString)
      val docs = (1 to 10).map(i =>
        (i.toLong, Seq.fill(5 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))).toDF("doc_id", "text")
      val rows = TextAnalysis.kneserNeyBigrams(docs, minCount = 1L)
        .collect().map(r => r.getString(0) -> r.getLong(3))
      // p_ppm over each context sums to <= 1e6 (a distribution; truncating
      // integer div only ever loses mass) and every mass is positive
      rows.groupBy(_._1).foreach { case (w1, ps) =>
        val total = ps.map(_._2).sum
        assert(total <= 1000000L, s"round $round context '$w1' sums to $total")
        assert(ps.forall(_._2 >= 0))
      }
    }
  }

  test("TVD drift properties: symmetry, [0,1e6] range, zero iff same distribution") {
    import graft.operators.GenericTests
    val rnd = new Random(13)
    for (round <- 1 to 5) {
      val vals = ('a' to 'e').map(_.toString)
      def sample(n: Int) = (1 to n).map(_ => vals(rnd.nextInt(vals.size))).toDF("c")
      val a = sample(30 + rnd.nextInt(100))
      val b = sample(30 + rnd.nextInt(100))
      val ab = GenericTests.categoricalDrift(a, b, Seq("c")).collect()(0).getLong(2)
      val ba = GenericTests.categoricalDrift(b, a, Seq("c")).collect()(0).getLong(2)
      assert(ab === ba, s"round $round: TVD must be symmetric ($ab vs $ba)")
      assert(ab >= 0 && ab <= 1000000L)
      // duplicating every row changes counts, not the distribution -> 0
      val a2 = a.unionAll(a)
      assert(GenericTests.categoricalDrift(a, a2, Seq("c")).collect()(0)
        .getLong(2) === 0L, s"round $round: scale-invariance")
    }
  }

  test("twoProportionZ equals the textbook pooled formula on random arms") {
    import graft.operators.Features
    val rnd = new Random(7)
    for (_ <- 1 to 20) {
      val n1 = 10L + rnd.nextInt(5000); val c1 = rnd.nextInt(n1.toInt).toLong
      val n2 = 10L + rnd.nextInt(5000); val c2 = rnd.nextInt(n2.toInt).toLong
      val z = Seq((n1, c1, n2, c2)).toDF("n1", "c1", "n2", "c2")
        .select(Features.twoProportionZ($"n1", $"c1", $"n2", $"c2"))
        .collect()(0)
      if (c1 + c2 == 0 || c1 + c2 == n1 + n2) assert(z.isNullAt(0))
      else {
        val p1 = c1.toDouble / n1; val p2 = c2.toDouble / n2
        val p = (c1 + c2).toDouble / (n1 + n2)
        val ref = (p1 - p2) / math.sqrt(p * (1 - p) * (1.0 / n1 + 1.0 / n2))
        assert(math.abs(z.getDouble(0) - ref) < 1e-9 * math.max(1.0, math.abs(ref)),
          s"($n1,$c1,$n2,$c2): ${z.getDouble(0)} vs $ref")
      }
    }
  }

  // ---- continuation-II battery: randomized reference comparisons ----
  // (fixed seeds; each operator checked against a straightforward Scala
  // implementation of its textbook definition on arbitrary inputs — the
  // generative complement of InferenceSpec's hand vectors)

  test("ksTest and cramerVonMises match brute-force ECDF references on random samples") {
    import graft.pipeline.Inference
    (1 to 6).foreach { seed =>
      val rnd = new Random(100 + seed)
      val a = Seq.fill(20 + rnd.nextInt(60))(rnd.nextInt(25).toLong)
      val b = Seq.fill(20 + rnd.nextInt(60))(rnd.nextInt(25).toLong)
      val df = (a.map((_, false)) ++ b.map((_, true))).toDF("v", "bb")
      val vs = (a ++ b).distinct.sorted
      def cum(xs: Seq[Long], v: Long) = xs.count(_ <= v).toLong
      val gaps = vs.map(v => math.abs(cum(a, v) * b.size - cum(b, v) * a.size))
      val r = Inference.ksTest(df, col("v"), col("bb")).collect()(0)
      assert(r.getLong(2) === gaps.max, s"ks seed $seed")
      assert(r.getLong(3) === gaps.max * 1000000L / (a.size.toLong * b.size), s"ks ppm seed $seed")
      val cvmRef = vs.map { v =>
        val g = cum(a, v) * b.size - cum(b, v) * a.size
        ((a ++ b).count(_ == v).toLong) * g * g
      }.sum
      val n = (a.size + b.size).toLong
      val want = BigInt(cvmRef) * 1000000 / (BigInt(a.size) * b.size * n * n)
      val cvm = Inference.cramerVonMises(df, col("v"), col("bb")).collect()(0)
      assert(BigInt(cvm.getLong(2)) === want, s"cvm seed $seed")
    }
  }

  test("aucPpm equals the brute-force pairwise comparison (ties half) on random scores") {
    import graft.pipeline.Inference
    (1 to 6).foreach { seed =>
      val rnd = new Random(200 + seed)
      val rows = Seq.fill(40 + rnd.nextInt(80))((rnd.nextInt(15).toLong, rnd.nextBoolean()))
      val pos = rows.filter(_._2).map(_._1); val neg = rows.filterNot(_._2).map(_._1)
      if (pos.nonEmpty && neg.nonEmpty) {
        // 2x units: win 2, tie 1
        val u2 = (for (p <- pos; q <- neg) yield
          if (p > q) 2L else if (p == q) 1L else 0L).sum
        val want = u2 * 1000000L / (2L * pos.size * neg.size)
        val got = Inference.aucPpm(rows.toDF("s", "y"), col("s"), col("y"))
          .collect()(0).getAs[Long]("auc_ppm")
        assert(got === want, s"auc seed $seed")
      }
    }
  }

  test("gini and hhi match their definitional formulas on random ledgers") {
    import graft.pipeline.Inference
    (1 to 6).foreach { seed =>
      val rnd = new Random(300 + seed)
      val vals = Seq.fill(10 + rnd.nextInt(50))(rnd.nextInt(1000).toLong)
      val df = vals.map(("g", _)).toDF("grp", "v")
      val sorted = vals.sorted; val n = vals.size.toLong; val t = vals.sum
      if (t > 0) {
        val twoS = sorted.zipWithIndex.map { case (v, i) => 2L * (i + 1) * v }.sum
        val wantG = (BigInt(twoS - (n + 1) * t) * 1000000 / BigInt(n * t)).toLong
        assert(Inference.gini(df, Seq("grp"), col("v")).collect()(0)
          .getAs[Long]("gini_ppm") === wantG, s"gini seed $seed")
      }
      val members = vals.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
        .toDF("grp", "m", "v")
      val pos = vals.filter(_ > 0)
      if (pos.nonEmpty) {
        val wantH = (BigInt(pos.map(x => BigInt(x) * x).sum.toLong) * 1000000 /
          (BigInt(pos.sum) * pos.sum)).toLong
        assert(Inference.hhi(members, Seq("grp"), col("m"), col("v"))
          .collect()(0).getAs[Long]("hhi_ppm") === wantH, s"hhi seed $seed")
      }
    }
  }

  test("kaplanMeier: survival is non-increasing, at-risk counts exact, all-death curve hits 0") {
    import graft.pipeline.Inference
    (1 to 6).foreach { seed =>
      val rnd = new Random(400 + seed)
      val subj = Seq.fill(15 + rnd.nextInt(40))(
        (rnd.nextInt(12).toLong, rnd.nextInt(3) == 0))
      val out = Inference.kaplanMeier(subj.toDF("dur", "cens"),
        col("dur"), col("cens")).orderBy("duration").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // survival never increases
      assert(out.map(_._4).sliding(2).forall(w => w.size < 2 || w(0) >= w(1)),
        s"monotone seed $seed")
      // at_risk(t) = subjects with dur >= t, exactly
      out.foreach { case (t, r, _, _) =>
        assert(r === subj.count(_._1 >= t).toLong, s"at_risk seed $seed t=$t") }
      // no censoring at the max duration -> the curve reaches exactly 0
      val allDeath = subj.map { case (dd, _) => (dd, false) }
      val last = Inference.kaplanMeier(allDeath.toDF("dur", "cens"),
        col("dur"), col("cens")).orderBy(col("duration").desc).collect()(0)
      assert(last.getLong(3) === 0L, s"terminal seed $seed")
    }
  }

  test("gainsTable partitions rows into deciles and ends at exactly 100% capture") {
    import graft.pipeline.Inference
    (1 to 5).foreach { seed =>
      val rnd = new Random(500 + seed)
      val rows = Seq.fill(50 + rnd.nextInt(200))(
        (rnd.nextInt(40).toLong, rnd.nextInt(4) == 0))
      val out = Inference.gainsTable(rows.toDF("s", "y"), col("s"), col("y"))
        .orderBy("decile").collect()
        .map(r => (r.getAs[Long]("decile"), r.getAs[Long]("n"),
          r.getAs[Long]("n_pos"), r.getAs[Long]("cum_gain_ppm")))
      assert(out.map(_._2).sum === rows.size.toLong, s"partition seed $seed")
      assert(out.map(_._3).sum === rows.count(_._2).toLong, s"pos seed $seed")
      if (rows.exists(_._2))
        assert(out.last._4 === 1000000L, s"capture seed $seed")
      // cumulative gain never decreases
      assert(out.map(_._4).sliding(2).forall(w => w.size < 2 || w(0) <= w(1)),
        s"monotone seed $seed")
    }
  }

  test("tCloseness EMD is bounded by [0, 1e6] and zero iff every group mirrors the global") {
    import graft.operators.GenericTests
    (1 to 5).foreach { seed =>
      val rnd = new Random(600 + seed)
      val rows = Seq.fill(30 + rnd.nextInt(80))(
        (s"g${rnd.nextInt(4)}", rnd.nextInt(5).toLong))
      val out = GenericTests.tCloseness(rows.toDF("g", "sv"), Seq("g"),
        col("sv"), tPpm = 500000L).collect()
        .map(r => r.getAs[Long]("t_ppm"))
      assert(out.forall(t => t >= 0L && t <= 1000000L), s"bounds seed $seed")
    }
    // mirrored construction: every group has the identical distribution
    val mirrored = (0 until 4).flatMap(g =>
      Seq.fill(3)((s"g$g", 1L)) ++ Seq.fill(2)((s"g$g", 2L)) :+ (s"g$g", 5L))
    assert(graft.operators.GenericTests.tCloseness(mirrored.toDF("g", "sv"),
      Seq("g"), col("sv"), 1L).collect().forall(_.getAs[Long]("t_ppm") === 0L))
  }

  test("deflateLength matches an independent java.util.zip pass on adversarial inputs") {
    // q219's compression-ratio signal is the one driver row with no SQL
    // oracle (no engine exposes deflate) — so the in-repo cross-check is
    // an INDEPENDENT Deflater re-computation in the test JVM, over the
    // adversarial input classes: long runs (max compression), seeded
    // pseudo-random (incompressible), multi-byte unicode (UTF-8 length !=
    // char count), empties, and run/random interleavings.
    import graft.plans.Expressions
    def reference(s: String, level: Int): Long = {
      val bytes = s.getBytes("UTF-8")
      val d = new java.util.zip.Deflater(level)
      try {
        d.setInput(bytes); d.finish()
        val buf = new Array[Byte](8192)
        var total = 0L
        while (!d.finished()) total += d.deflate(buf)
        total
      } finally d.end()
    }
    val rnd = new Random(219)
    val inputs: Seq[String] = Seq(
      "", "a", "a" * 10000, "ab" * 5000,
      rnd.alphanumeric.take(8192).mkString,
      Seq.fill(4096)(rnd.nextPrintableChar()).mkString,
      "日本語のテキスト" * 300, "héllo wörld 🌍" * 200,
      (1 to 50).map(i => ("x" * i) + rnd.nextInt(10)).mkString("\n"))
    Seq(1, 6, 9).foreach { level =>
      val df = inputs.zipWithIndex.map(_.swap).toDF("id", "t")
        .select(col("id"), Expressions.deflateLength(col("t"), level).as("dz"))
      val got = df.collect().map(r => r.getAs[Int]("id") -> r.getAs[Long]("dz")).toMap
      inputs.zipWithIndex.foreach { case (s, i) =>
        assert(got(i) === reference(s, level),
          s"deflate mismatch at input $i level $level")
      }
    }
  }

  test("quantile summary: partition/order invariance and cut monotonicity (random multisets)") {
    import graft.functions.QuantileSketch._
    val rnd = new Random(124242L)
    for (trial <- 1 to 5) {
      val n = 200 + rnd.nextInt(800)
      // heavy ties: values from a small domain so stride cuts land inside
      // tie runs (the determinism edge worth hammering)
      val vals = Seq.fill(n)(rnd.nextInt(40).toLong)
      val k = 2 + rnd.nextInt(30)
      // same multiset through different physical partitionings and row
      // orders must compress to the IDENTICAL register multiset — the
      // engine-determinism contract the DuckDB oracle rests on
      val a = vals.toDF("v").repartition(1)
      val b = rnd.shuffle(vals).toDF("v").repartition(7)
      val ca = qsCompress(qsRegisters(a, Nil, col("v")), Nil, k)
      val cb = qsCompress(qsRegisters(b, Nil, col("v")), Nil, k)
      assert(ca.exceptAll(cb).isEmpty && cb.exceptAll(ca).isEmpty,
        s"trial $trial: partitioning changed the summary (n=$n k=$k)")
      // weight conservation
      assert(ca.agg(sum(col("qs_weight"))).collect()(0).getLong(0) === n.toLong)
      // cuts are monotone in q and each sits within the stride bound of
      // the true rank
      val sorted = vals.sorted
      val s = (n + k - 1) / k
      val cuts = qsQuantile(ca, Nil, Seq(100, 250, 500, 750, 900, 1000))
        .collect().map(r => r.getAs[Int]("q_mille") -> r.getAs[Long]("value"))
        .sortBy(_._1)
      assert(cuts.map(_._2).sameElements(cuts.map(_._2).sorted),
        s"trial $trial: cuts not monotone in q")
      cuts.foreach { case (q, v) =>
        val target = math.max(1, math.ceil(q.toDouble * n / 1000.0).toInt)
        // v is an exact data value whose rank range covers [target, target+s)
        val lastRankOfV = sorted.lastIndexWhere(_ == v) + 1
        val firstRankOfV = sorted.indexWhere(_ == v) + 1
        assert(lastRankOfV >= target && firstRankOfV < target + s,
          s"trial $trial q=$q: v=$v ranks [$firstRankOfV,$lastRankOfV] " +
            s"vs target $target stride $s")
      }
    }
  }
}
