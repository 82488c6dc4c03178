package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Similarity}
import graft.sources.Sources.table
import graft.engine.Pin.PinOps
import graft.queries.Scratch

/** Scale-up probe: times the pairwise dedup family on the documents table
  * replicated Nx (ids shifted so replicas are near-dups of each other, the
  * worst case for candidate volume). Usage:
  *   runMain graft.ScaleProbe [sfDir] [replicas] [outJson]
  * Prints per-operator seconds at 1x and Nx — the growth RATIO is the
  * scalability signal (a quadratic path grows ~N^2, the banded/prefix paths
  * should grow near-linearly in candidate volume). The probe table is also
  * written as a JSON artifact (default `SCALEPROBE.json`; pass e.g.
  * `SCALEPROBE_r10.json`) so scale behavior is diffable round-over-round
  * the way BENCH_rN.json is.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps  = if (args.length > 1) args(1).toInt else 4
    val outJson = if (args.length > 2) args(2) else "SCALEPROBE.json"
    val spark = GraftSession()

    val docs1 = table(spark, sfDir, "documents")
      .withColumn("block", concat_ws("/", col("lang"), col("source")))
    val docsN = (0 until reps).map { r =>
      docs1.withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
    }.reduce(_ unionByName _).pinEager()

    val probeRows = scala.collection.mutable.ListBuffer.empty[(String, Double, Long)]
    // optional probe filter (regex over labels): lets a high-replica run —
    // e.g. the r10 verdict's 16x pass for the probes whose 4x growth could
    // not separate pair-volume tracking from superlinear blowup — execute
    // ONLY the probes under study instead of the whole battery
    val probeOnly = sys.env.get("SPARK_GRAFT_PROBE_ONLY").map(_.r)
    def time(label: String)(f: => Long): Unit = {
      if (probeOnly.exists(_.findFirstIn(label).isEmpty)) return
      val t0 = System.nanoTime()
      val n = f
      val sec = (System.nanoTime() - t0) / 1e9
      probeRows += ((label.trim.replaceAll("\\s+", " "), sec, n))
      println(f"[probe] $label%-28s $sec%7.2f s  ($n rows)")
    }

    for ((label, docs) <- Seq("1x" -> docs1.pinEager(), s"${reps}x" -> docsN)) {
      time(s"ngram_jaccard_prefix  $label") {
        Dedup.ngramJaccardPairs(docs, "block", n = 3, threshold = 0.5).count()
      }
      time(s"minhash_lsh           $label") {
        Dedup.minhashPairs(docs, n = 3, k = 8, bandSize = 2, threshold = 0.5).count()
      }
      time(s"simhash_bands         $label") {
        Dedup.simhashPairs(docs, "block", maxDist = 3).count()
      }
      // corpus grows, benchmark stays fixed (the realistic shape): the
      // broadcast bench side + map-side partial agg must grow ~linearly
      // with the corpus, never with corpus x bench
      time(s"contamination         $label") {
        graft.pipeline.Contamination.ngramOverlap(docs,
          docs1.filter(col("doc_id") % 50 === 0), n = 3, minShared = 5).count()
      }
    }

    // round-8 candidate-generation ops: growth must track candidate/pair
    // volume (replicas are exact dups of each other — worst case for every
    // blocking family), never the quadratic corpus cross product
    for ((label, docs) <- Seq("1x" -> docs1, s"${reps}x" -> docsN)) {
      time(s"fuzzy_selfpairs       $label") {
        graft.operators.FuzzyLink.selfPairs(
          docs.filter(length(col("text")) >= 30)
            .select(col("doc_id"), substring(col("text"), 1, 30).as("k")),
          col("doc_id"), col("k"),
          maxDist = 2, blockLen = 4, maxBlockSize = 10000).count()
      }
      time(s"winnow_pairs          $label") {
        graft.pipeline.TextAnalysis.winnowNearDupPairs(
          docs, k = 4, w = 5, minShared = 2, maxDocFreq = 10).count()
      }
      time(s"bigram_lm_score       $label") {
        graft.pipeline.TextAnalysis.bigramLmScore(
          docs, col("source") === "src1").count()
      }
      // round-9 continuation: containment prefix join — replicas are exact
      // dups (containment 1.0 across every replica pair), the worst case
      // for the asymmetric candidate join; growth must track the true pair
      // volume like the jaccard prefix filter, never corpus^2
      time(s"containment_prefix    $label") {
        Dedup.containmentPairs(docs, "block", n = 3, threshold = 0.5).count()
      }
    }

    // round-9: skewed REGISTRY side for fuzzy linkage — half the right keys
    // share ONE prefix block (the "every record says ACME" shape). The
    // maxBlockSize guard must bound candidate volume BEFORE the join; the
    // unguarded run shows what it saves, the guarded match count shows what
    // it costs (pairs reachable only through the hot prefix are lost —
    // their suffix blocks still match when tails agree, so the loss is
    // partial, and the printed row counts quantify it).
    {
      val base = docs1.filter(length(col("text")) >= 30)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("k"))
      val skewKey = when(col("doc_id") % 2 === 0,
        concat(lit("ACME"), substring(col("k"), 5, 20))).otherwise(col("k"))
      val registry = base.select(col("doc_id"), skewKey.as("k")).pinEager()
      // query keys mutate the LAST character (edit distance 1, still a true
      // match) so the suffix block never agrees: hot-prefix rows are
      // reachable ONLY through the guarded block, making the recall cost
      // measurable — guarded matches ~ the diverse-prefix half
      val queries = registry.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 90000000L).as("doc_id"),
          concat(substring(col("k"), 1, 23), lit("~")).as("k"))
        .pinEager()
      time("fuzzy_skew_unguarded  1x") {
        graft.operators.FuzzyLink.link(
          queries, col("doc_id"), col("k"), registry, col("doc_id"), col("k"),
          maxDist = 2, blockLen = 4, maxBlockSize = 1 << 30).count()
      }
      time("fuzzy_skew_guarded    1x") {
        graft.operators.FuzzyLink.link(
          queries, col("doc_id"), col("k"), registry, col("doc_id"), col("k"),
          maxDist = 2, blockLen = 4, maxBlockSize = 500).count()
      }
    }

    // connected components over the minhash pair graph: the DISTRIBUTED star
    // iteration (threshold 0 disables the small-graph short-circuit) must
    // track pair volume, converging in O(log n) rounds
    for ((label, docs) <- Seq("1x" -> docs1, s"${reps}x" -> docsN)) {
      time(s"cc_distributed        $label") {
        val pairs = Dedup.minhashPairs(docs, n = 3, k = 8, bandSize = 2, threshold = 0.5)
        Dedup.connectedComponents(pairs, driverUnionFindMaxEdges = 0L).count()
      }
    }

    // streaming upsert: per-batch cost must track the BATCH, not the target
    // — successive small batches into a large bucket-partitioned target
    {
      val wh = new graft.engine.Warehouse(
        Scratch.tempDir("graft_probe_upsert").toString, spark)
      val events = graft.sources.Sources.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      time("upsert_initial        1x") {
        wh.upsertPartitioned("stream_tgt", events, Seq("event_id"), nBuckets = 64)
        wh.read("stream_tgt").count()
      }
      (1 to 3).foreach { i =>
        // ~5 distinct keys per batch -> ~5 of 64 buckets touched; a batch
        // with ~100 keys would touch ~80% of buckets and the probe could
        // not distinguish pruned from full-target I/O. The count stays
        // OUTSIDE the timed block: upsertPartitioned is its own action.
        val batch = events.filter(col("event_id") % 20000 === i)
          .withColumn("value", col("value") * 2)
        val nRows = batch.count()
        time(s"upsert_batch          #$i") {
          wh.upsertPartitioned("stream_tgt", batch, Seq("event_id"), nBuckets = 64)
          nRows
        }
      }
    }

    // ANN: centroid assignment must grow linearly with the corpus (the
    // codebook is broadcast; a shuffling assignment would grow superlinearly)
    val emb1 = table(spark, sfDir, "embeddings")
    val embN = (0 until reps).map { r =>
      emb1.withColumn("vec_id", col("vec_id") + lit(r * 10000000L))
    }.reduce(_ unionByName _).pinEager()
    for ((label, emb) <- Seq("1x" -> emb1.pinEager(), s"${reps}x" -> embN)) {
      time(s"ivf_ann               $label") {
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
          nCentroids = 32, nProbe = 2).count()
      }
    }

    // iterative graph ops: per-iteration cost must track the EDGE count
    // (shuffles keyed on uniformly-distributed node ids), never edges^2.
    // Replicas are node-shifted disjoint subgraphs — Nx edges = Nx work.
    val edges1 = table(spark, sfDir, "orders")
      .join(table(spark, sfDir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("s"),
        (col("l_suppkey") + 1000000L).cast("long").as("t"))
    val edgesN = (0 until reps).map { r =>
      edges1.select((col("s") + lit(r * 10000000L)).as("s"),
        (col("t") + lit(r * 10000000L)).as("t"))
    }.reduce(_ unionByName _).pinEager()
    for ((label, ed) <- Seq("1x" -> edges1.pinEager(), s"${reps}x" -> edgesN)) {
      time(s"pagerank              $label") {
        graft.operators.Graph.pageRank(ed, "s", "t", iterations = 3).count()
      }
      time(s"hits                  $label") {
        graft.operators.Graph.hits(ed, "s", "t", iterations = 2).count()
      }
      // round-9: LPA rounds are the pageRank cost envelope (one edge scan
      // + node-keyed rollups per round) — Nx disjoint subgraph edges must
      // cost ~Nx, never N^2
      time(s"label_propagation     $label") {
        graft.operators.Graph.labelPropagation(ed, "s", "t", rounds = 3).count()
      }
    }

    // round-9: Misra-Gries heavy hitters — the MG pass is a narrow map
    // whose cost tracks the token stream linearly; the exact pass shuffles
    // CANDIDATES only, so Nx corpus = ~Nx time with flat driver state.
    // Warm both plans on a 50-doc slice first: their first execution pays
    // one-time whole-stage codegen compilation that would otherwise land
    // entirely on the 1x row (measured 4.7 s vs a real 0.9 s)
    locally {
      val tiny = docs1.limit(50).pinEager()
      graft.operators.HeavyHitters.frequentItems(
        tiny.select(explode(graft.pipeline.TextAnalysis.tokens(col("text")))
          .as("token")), col("token"), k = 200).count()
      ()
    }
    for ((label, docs) <- Seq("1x" -> docs1, s"${reps}x" -> docsN)) {
      time(s"heavy_hitters         $label") {
        graft.operators.HeavyHitters.frequentItems(
          docs.filter(col("text").isNotNull)
            .select(explode(graft.pipeline.TextAnalysis.tokens(col("text")))
              .as("token")),
          col("token"), k = 200).count()
      }
      // (the bigram-rollup family — KN smoothing / collocation lift — is
      // NOT probed here: by this point the probe JVM pins a dozen
      // localCheckpoint blocks and the 10M-bigram agg's spill behavior
      // swamps the scaling signal (13.6 s vs the 2.8-3.4 s BenchOne
      // isolated truth). Its scale evidence lives in BASELINE.md's
      // BenchOne rows instead.)
    }
    // round-9 continuation II: perceptual dHash banding — replicas carry
    // IDENTICAL motif images (key = doc_id % 40 survives the id shift mod
    // 40 because the shift is a multiple of 40), so the true near-dup pair
    // volume grows ~reps^2 per motif. Time must track PAIR volume (the
    // exact-dup worst case every banded family is probed against), never
    // corpus^2 across motifs.
    for ((label, docs) <- Seq("1x" -> docs1, s"${reps}x" -> docsN)) {
      time(s"dhash_banding         $label") {
        implicit val sp: org.apache.spark.sql.SparkSession = spark
        import sp.implicits._
        val imgs = docs.select(col("doc_id").cast("long").as("doc_id")).as[Long]
          .mapPartitions(ids => ids.map { id =>
            val key = (id % 40).toInt
            (id, graft.pipeline.Multimodal.encodePng(9, 8, (x, y) => {
              val g = (x * 17 + y * 29 + (x * y % 7) * 41 + key * 53) % 256
              (g, g, g)
            }))
          }).toDF("doc_id", "media")
        graft.pipeline.Multimodal.dhashNearDupPairs(
          graft.pipeline.Multimodal.dhashImages(imgs).toDF(), maxHamming = 3)
          .count()
      }
    }

    // IVF-PQ: the index is one scan (cell + codes from broadcast
    // codebooks), query-time cost tracks PROBED cells — Nx corpus must
    // cost ~Nx scan plus ~Nx scored rows, never a shuffle blowup
    for ((label, emb) <- Seq("1x" -> emb1, s"${reps}x" -> embN)) {
      time(s"ivfpq_ann             $label") {
        val books = Similarity.pqCodebooks(emb, "vec_id", "embedding",
          blockLen = 32, nBlocks = 2, k = 4, iters = 1)
        val coarse = graft.pipeline.Clustering.kMeansCodebook(
          emb, "vec_id", "embedding", k = 8, iters = 1)
        Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 10), blockLen = 32, books, coarse,
          nProbe = 2, topK = 5).count()
      }
    }

    // round-10: contrastive hard-negative mining — anchors are FIXED and
    // broadcast, the corpus grows; cost must track the corpus scan (each
    // corpus row scores against the broadcast anchors map-side), never a
    // corpus x anchors shuffle
    for ((label, emb) <- Seq("1x" -> emb1, s"${reps}x" -> embN)) {
      time(s"hard_negatives        $label") {
        Similarity.hardNegatives(emb, emb1.filter(col("vec_id") < 10), k = 5)
          .count()
      }
    }

    // two-sample tests: cost must track the DISTINCT-value rollup + one
    // partial-agg scan — replicas add rows but no new distinct values, so
    // Nx rows ~ Nx scan with a flat window stage
    for ((label, docs) <- Seq("1x" -> docs1, s"${reps}x" -> docsN)) {
      time(s"ks_ecdf_rollup        $label") {
        graft.pipeline.Inference.ksTest(
          docs.select(col("n_chars"), (col("doc_id") % 2 === 0).as("b")),
          col("n_chars"), col("b")).count()
      }
    }

    // round-10 continuation: presence-basket item CF — pair volume must
    // track BASKETS (replicated baskets repeat the same within-basket pair
    // shapes, so Nx baskets ~ Nx pairs), never corpus^2; maxBasketSize
    // caps per-basket fanout
    val li1 = table(spark, sfDir, "lineitem")
      .select(col("l_orderkey").cast("long").as("b"),
        col("l_partkey").cast("long").as("i")).pinEager()
    val liN = (0 until reps).map(r =>
      li1.withColumn("b", col("b") + lit(r * 100000000L)))
      .reduce(_ unionByName _).pinEager()
    for ((label, li) <- Seq("1x" -> li1, s"${reps}x" -> liN)) {
      time(s"item_cf_neighbors     $label") {
        graft.operators.Features.itemNeighbors(li, col("b"), col("i"),
          k = 3, minSupport = 2).count()
      }
    }

    // quantile normalization: both rank rollups carry DISTINCT values only
    // — replicas add rows but no new n_chars values, so the range join
    // stays fixed-size and cost tracks the scan
    for ((label, docs) <- Seq("1x" -> docs1, s"${reps}x" -> docsN)) {
      time(s"quantile_normalize    $label") {
        graft.pipeline.Stats.quantileNormalize(docs, Seq("lang"),
          col("n_chars")).count()
      }
    }

    // rolling WAU: the explode fanout is window x active (user, day) —
    // replicas add users linearly; the report-day rollup stays
    // calendar-bounded
    val evd1 = graft.sources.Sources.events(spark, sfDir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("day"))
      .pinEager()
    val evdN = (0 until reps).map(r =>
      evd1.withColumn("user_id", col("user_id") + lit(r * 10000000L)))
      .reduce(_ unionByName _).pinEager()
    for ((label, ev) <- Seq("1x" -> evd1, s"${reps}x" -> evdN)) {
      time(s"rolling_wau           $label") {
        graft.operators.EventAnalytics.rollingActiveUsers(ev,
          col("user_id"), col("day"), window = 7).count()
      }
    }

    // windowed funnel: per-step gap-bounded joins are USER-keyed — replicas
    // add users, qualified sets grow linearly, never cross-user pairs
    val evf1 = graft.sources.Sources.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts")).pinEager()
    val evfN = (0 until reps).map(r =>
      evf1.withColumn("user_id", col("user_id") + lit(r * 10000000L)))
      .reduce(_ unionByName _).pinEager()
    for ((label, ev) <- Seq("1x" -> evf1, s"${reps}x" -> evfN)) {
      time(s"windowed_funnel       $label") {
        graft.operators.EventAnalytics.windowedFunnel(ev,
          Seq("view", "click", "purchase"), maxGapSec = 7200L).count()
      }
    }

    // distributed prefix sums / ABC: range-partitioned running totals —
    // replicas add keys linearly, the driver collect stays partition-bounded
    val ab1 = table(spark, sfDir, "lineitem")
      .select(col("l_partkey").cast("long").as("k"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("v"))
      .pinEager()
    val abN = (0 until reps).map(r =>
      ab1.withColumn("k", col("k") + lit(r * 100000000L)))
      .reduce(_ unionByName _).pinEager()
    for ((label, ab) <- Seq("1x" -> ab1, s"${reps}x" -> abN)) {
      time(s"abc_prefix_sums       $label") {
        graft.operators.Ranking.abcClassify(ab, col("k"), col("v")).count()
      }
    }

    // Mann-Kendall + Sen: the O(d^2) pair volume is CALENDAR-bounded —
    // replicas multiply rows but not days, so pairs (and cost) stay flat;
    // the grouped prefix-sum median keeps selection parallel
    val mk1 = table(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("g"),
        datediff(to_date(col("l_shipdate")),
          lit("1970-01-01").cast("date")).as("day"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("v"))
      .pinEager()
    val mkN = (0 until reps).map(_ => mk1).reduce(_ unionByName _)
      .pinEager()
    for ((label, mk) <- Seq("1x" -> mk1, s"${reps}x" -> mkN)) {
      time(s"mann_kendall_sen      $label") {
        graft.pipeline.Stats.mannKendallDaily(mk, Seq("g"), col("day"),
          col("v")).count()
      }
    }

    // FIFO allocation: replicas shift the part key, so keys multiply while
    // per-key interval work is constant — time and output must track the
    // key count (the output-linear claim: each match boundary advances one
    // side), never any pairwise blowup
    val ff1 = table(spark, sfDir, "lineitem")
      .select(col("l_partkey").as("k"),
        (datediff(to_date(col("l_shipdate")),
          lit("1970-01-01").cast("date")).cast("long") * 1000000000000L +
          col("l_orderkey") * 10L + col("l_linenumber")).as("ord"),
        col("l_quantity").cast("long").as("qty"),
        floor(col("l_extendedprice") / col("l_quantity") * 100 + lit(0.5))
          .cast("long").as("cents"),
        col("l_linestatus").as("st"))
      .pinEager()
    val ffN = (0 until reps).map { r =>
      ff1.withColumn("k", col("k") + lit(r * 10000000L))
    }.reduce(_ unionByName _).pinEager()
    for ((label, li) <- Seq("1x" -> ff1, s"${reps}x" -> ffN)) {
      time(s"fifo_alloc            $label") {
        graft.operators.Features.fifoAllocate(
          li.filter(col("st") === "F"), li.filter(col("st") === "O"),
          "k", col("ord"), col("qty"), col("cents"),
          col("ord"), col("qty")).count()
      }
    }

    // Jonckheere-Terpstra: the densified (value x group) grid is bounded
    // by DISTINCT values x k — replicas multiply per-cell counts, not
    // cells, so the cumulative passes stay flat while N grows
    val jt1 = table(spark, sfDir, "events")
      .select(floor(col("value") * 1000 + 0.5).cast("long").as("v"),
        (col("user_id") % 5L).as("g"))
      .pinEager()
    val jtN = (0 until reps).map(_ => jt1).reduce(_ unionByName _)
      .pinEager()
    for ((label, jt) <- Seq("1x" -> jt1, s"${reps}x" -> jtN)) {
      time(s"jonckheere_grid       $label") {
        graft.pipeline.Inference.jonckheereTerpstra(jt, col("v"), col("g"))
          .count()
      }
    }

    // round-11: grouped Wasserstein — replicas multiply ROWS but the
    // distinct cent values saturate, so the per-group ECDF window stays
    // value-domain-bounded and cost tracks the rollup scan
    for ((label, li) <- Seq("1x" -> ff1, s"${reps}x" -> ffN)) {
      time(s"wasserstein_grouped   $label") {
        graft.pipeline.Inference.wassersteinByGroup(
          li.select(col("st"), col("cents"), (col("qty") > 25L).as("b")),
          Seq("st"), col("cents"), col("b")).count()
      }
    }
    // round-11: RAKE — per-document windows and (doc, word) rollups only;
    // Nx docs must cost ~Nx with no corpus-global structure
    for ((label, docs) <- Seq("1x" -> docs1, s"${reps}x" -> docsN)) {
      time(s"rake_keyphrases       $label") {
        graft.pipeline.TextAnalysis.rakeKeyphrases(docs,
          col("doc_id").cast("long"), col("text"),
          stopwords = Seq("a", "the"), minWords = 2).count()
      }
    }
    // round-11: gini stump screen — the split-search window runs over
    // DISTINCT feature values (saturated under replication), so Nx rows
    // cost ~the rollup scan, never Nx window work
    for ((label, docs) <- Seq("1x" -> docs1, s"${reps}x" -> docsN)) {
      time(s"gini_screen           $label") {
        graft.operators.Features.giniSplitScreen(docs,
          col("n_chars"), col("lang") === "en").count()
      }
    }
    // round-11: Krippendorff — (unit, value) rollups; replicas shift the
    // unit key so units multiply and cost must track them linearly
    for ((label, li) <- Seq("1x" -> li1, s"${reps}x" -> liN)) {
      time(s"krippendorff          $label") {
        graft.pipeline.Inference.krippendorffAlpha(li,
          col("b"), col("i") % 3L).count()
      }
    }

    // round-11: iterated HyperANF — per-round cost is one edge join +
    // (node, bucket) max; Nx disjoint subgraph edges must cost ~Nx per
    // round (register rows bounded by nodes x 256, never pair volume)
    for ((label, ed) <- Seq("1x" -> edges1.pinEager(), s"${reps}x" -> edgesN)) {
      time(s"hyperanf_rounds       $label") {
        graft.operators.Graph.neighborhoodFunction(
          ed.select(col("s").as("src"), col("t").as("dst"))
            .unionByName(ed.select(col("t").as("src"), col("s").as("dst"))),
          "src", "dst", rounds = 3, probe = n => n % 200L === 0L).count()
      }
    }

    // round-12: mergeable quantile summary — the two-level compress
    // (per-unit registers -> per-unit summary -> merged summary) must
    // track the ROLLUP size: replicas shift the unit key so units
    // multiply; per-unit work is rollup-bounded and the merge input is
    // units x (k+1) rows, so Nx units cost ~Nx with no cross-unit
    // structure
    {
      val qs1 = table(spark, sfDir, "lineitem")
        .select((col("l_orderkey") % 1000L).as("unit"),
          graft.operators.Features.cents(col("l_extendedprice")).as("c"))
      val qsN = (0 until reps).map(r =>
        qs1.withColumn("unit", col("unit") + lit(r * 1000L)))
        .reduce(_ unionByName _).pinEager()
      for ((label, df) <- Seq("1x" -> qs1.pinEager(), s"${reps}x" -> qsN)) {
        time(s"qsketch_2level        $label") {
          graft.functions.QuantileSketch.qsCompress(
            graft.functions.QuantileSketch.qsCompress(
              graft.functions.QuantileSketch.qsRegisters(df, Seq("unit"), col("c")),
              Seq("unit"), k = 32).drop("unit"),
            Nil, k = 32).count()
        }
      }
    }

    // round-12: stored-baseline drift lifecycle (q448) — run 1 (baseline
    // register CTAS + first score) must track the baseline corpus; run 2
    // (nightly: provably-empty baseline merge + one-day score against the
    // STORED rollup) must stay FLAT as the baseline corpus grows Nx — the
    // no-rescan contract. Replicas duplicate the baseline window only
    // (weights multiply, value domain saturates); the scored day stays 1x.
    {
      val ev1 = graft.sources.Sources.events(spark, sfDir)
        .filter(col("value").isNotNull)
        .select(col("ts").cast("date").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val baseWindow = ev1.filter(col("day") < lit("2024-01-21").cast("date"))
      val nightSlice = ev1.filter(col("day") === lit("2024-01-25").cast("date"))
      val evA = baseWindow.unionByName(nightSlice).pinEager()
      val evB = (0 until reps).map(_ => baseWindow).reduce(_ unionByName _)
        .unionByName(nightSlice).pinEager()
      for ((label, ev) <- Seq("1x" -> evA, s"${reps}x" -> evB)) {
        val wh = new graft.engine.Warehouse(
          Scratch.tempDir("graft_probe_drift").toString, spark)
        def mkReg() = {
          val reg = new graft.engine.Registry(spark, wh)
          reg.source("ev", ev)
          reg.register(graft.engine.Model("drift_baseline", Seq("ev"),
            graft.engine.IncrementalMat(graft.engine.Incremental.Merge, Seq("qs_value")),
            ctx => {
              val w = if (ctx.isIncremental) ctx.ref("ev").filter(lit(false))
                else ctx.ref("ev").filter(col("day") < lit("2024-01-21").cast("date"))
              graft.functions.QuantileSketch.qsRegisters(w, Nil, col("cents"))
            }))
          reg.register(graft.engine.Model("drift_scores", Seq("ev", "drift_baseline"),
            graft.engine.IncrementalMat(graft.engine.Incremental.Merge, Seq("score_day")),
            ctx => graft.pipeline.Inference.ksFromRegisters(
              ctx.ref("drift_baseline"),
              graft.functions.QuantileSketch.qsRegisters(
                ctx.ref("ev").filter(col("day") === lit("2024-01-25").cast("date")),
                Nil, col("cents")))
              .withColumn("score_day", lit("2024-01-25").cast("date"))))
          reg
        }
        time(s"drift_baseline_run    $label") {
          mkReg().run()
          wh.read("drift_baseline").count()
        }
        time(s"drift_nightly_run     $label") {
          mkReg().run()
          wh.read("drift_scores").count()
        }
      }
    }

    // round-13: stored-baseline CENTROID drift lifecycle (q452) — same
    // contract as the scalar drift probe above: run 1 (centroid-register
    // CTAS + first score) tracks the baseline corpus; run 2 (nightly
    // score against the STORED sums, provably-empty baseline merge) must
    // stay FLAT as the baseline corpus grows Nx. Replicas duplicate the
    // baseline slice only (vec_id shifts by multiples of 4 preserve the
    // slice classes); the scored night slice stays 1x.
    {
      val emb1 = table(spark, sfDir, "embeddings")
      val base1 = emb1.filter(col("vec_id") % 4 < 2)
      val night = emb1.filter(col("vec_id") % 4 === 2)
      val embA = base1.unionByName(night).pinEager()
      val embB = (0 until reps).map(r =>
        base1.withColumn("vec_id", col("vec_id") + lit(r * 10000000L)))
        .reduce(_ unionByName _).unionByName(night).pinEager()
      def cent(df: org.apache.spark.sql.DataFrame) =
        graft.pipeline.Clustering.labelCentroids(df, "label", "embedding")
          .select(col("label"), col("pos"), col("sum_q"), col("n_vecs"))
      for ((label, emb) <- Seq("1x" -> embA, s"${reps}x" -> embB)) {
        val wh = new graft.engine.Warehouse(
          Scratch.tempDir("graft_probe_cent").toString, spark)
        def mkReg() = {
          val reg = new graft.engine.Registry(spark, wh)
          reg.source("emb", emb)
          reg.register(graft.engine.Model("cent_baseline", Seq("emb"),
            graft.engine.IncrementalMat(graft.engine.Incremental.Merge,
              Seq("label", "pos")),
            ctx => cent(
              if (ctx.isIncremental) ctx.ref("emb").filter(lit(false))
              else ctx.ref("emb").filter(col("vec_id") % 4 < 2))))
          reg.register(graft.engine.Model("cent_scores", Seq("emb", "cent_baseline"),
            graft.engine.IncrementalMat(graft.engine.Incremental.Merge,
              Seq("score_run", "label")),
            ctx => graft.operators.GenericTests.centroidCosFromRegisters(
              ctx.ref("cent_baseline"),
              cent(ctx.ref("emb").filter(col("vec_id") % 4 === 2)))
              .withColumn("score_run", lit(if (ctx.isIncremental) 2 else 1))))
          reg
        }
        time(s"centroid_baseline_run $label") {
          mkReg().run()
          wh.read("cent_baseline").count()
        }
        time(s"centroid_nightly_run  $label") {
          mkReg().run()
          wh.read("cent_scores").count()
        }
      }
    }

    // round-13: data-skipping manifest (q454) — the key domain and file
    // count grow Nx with the corpus while the probe range stays a fixed
    // slice: manifest_build is O(files) driver-side footer reads,
    // pruned_read must stay FLAT (it touches the same ~2 files at any N;
    // its driver-side cost is one sidecar read + one listing), and the
    // full filtered scan is the ~linear contrast it replaces.
    {
      val li1 = table(spark, sfDir, "lineitem").select(
        col("l_partkey").cast("long").as("k"),
        col("l_quantity").cast("long").as("x"))
      val pSpan = 10000000L
      val liN = (0 until reps).map(r =>
        li1.withColumn("k", col("k") + lit(r * pSpan)))
        .reduce(_ unionByName _)
      for ((label, df, nf) <- Seq(("1x", li1, 16), (s"${reps}x", liN, 16 * reps))) {
        val wh = new graft.engine.Warehouse(
          Scratch.tempDir("graft_probe_man").toString, spark)
        wh.writeSwap("t",
          df.repartitionByRange(nf, col("k")).sortWithinPartitions("k"))
        time(s"manifest_build        $label") {
          wh.writeStatsManifest("t", Seq("k")).toLong
        }
        time(s"manifest_pruned_read  $label") {
          wh.readPruned("t", "k", 1L, 200L).count()
        }
        time(s"manifest_full_filter  $label") {
          wh.read("t").filter(col("k") >= 1L && col("k") <= 200L).count()
        }
      }
    }

    // round-13 continuation: bloom equality sidecar (q459) — file count
    // and key domain grow Nx while the probe stays a fixed 3-key lookup:
    // bloom_build is one distributed pass (~linear), bloom_pruned_read
    // must stay FLAT (one sidecar read + ~1 file per key at any N), and
    // the full filtered scan is the ~linear contrast it replaces.
    {
      val li1 = table(spark, sfDir, "lineitem").select(
        col("l_orderkey").cast("long").as("k"),
        col("l_quantity").cast("long").as("x"))
      val span = 10000000L
      val liN = (0 until reps).map(r =>
        li1.withColumn("k", col("k") + lit(r * span)))
        .reduce(_ unionByName _)
      for ((label, df, nf) <- Seq(("1x", li1, 16), (s"${reps}x", liN, 16 * reps))) {
        val wh = new graft.engine.Warehouse(
          Scratch.tempDir("graft_probe_bloom").toString, spark)
        wh.writeSwap("t", df.repartition(nf, col("k")))
        time(s"bloom_build           $label") {
          wh.writeBloomManifest("t", Seq("k")).toLong
        }
        time(s"bloom_pruned_read     $label") {
          wh.readPrunedIn("t", "k", Seq(1L, 32L, 33L)).count()
        }
        time(s"bloom_full_filter     $label") {
          wh.read("t").filter(col("k").isin(1L, 32L, 33L)).count()
        }
      }
    }

    // round-13 continuation: the five-law drift panel (q463) — G scored
    // groups against ONE broadcast baseline: total work is groups x
    // union-domain registers, so Nx groups must grow ~linearly (never
    // G x baseline RESCANS — the failure mode of a per-group scorer loop)
    {
      import graft.functions.QuantileSketch
      import graft.pipeline.Inference
      val ev = graft.sources.Sources.events(spark, sfDir)
        .filter(col("value").isNotNull)
        .select(col("ts").cast("date").as("day"),
          call_function("div",
            floor(col("value") * 100 + 0.5).cast("long"), lit(100L)).as("b"))
      val base = QuantileSketch.qsRegisters(
        ev.filter(col("day") < lit("2024-01-15").cast("date")), Nil, col("b"))
        .pinEager()
      val live1 = QuantileSketch.qsRegisters(
        ev.filter(col("day") >= lit("2024-01-15").cast("date")),
        Seq("day"), col("b")).pinEager()
      val liveN = (0 until reps).map(r =>
        live1.withColumn("day", date_add(col("day"), lit(r * 365))))
        .reduce(_ unionByName _).pinEager()
      for ((label, live) <- Seq("1x" -> live1, s"${reps}x" -> liveN))
        time(s"drift_panel_groups    $label") {
          Inference.driftPanelFromRegisters(live, base, Seq("day")).count()
        }
    }

    // round-13 continuation: incremental manifest refresh (q464) — the
    // table grows Nx in files, the appended batch stays ONE file:
    // refresh_stats/refresh_bloom must stay FLAT (only the new file pays
    // a footer read / hash pass; prior lines reused verbatim), while
    // rebuild_bloom is the ~linear contrast the refresh replaces
    {
      val li1 = table(spark, sfDir, "lineitem").select(
        col("l_orderkey").cast("long").as("k"),
        col("l_quantity").cast("long").as("x"))
      val span = 10000000L
      val liN = (0 until reps).map(r =>
        li1.withColumn("k", col("k") + lit(r * span)))
        .reduce(_ unionByName _)
      for ((label, df, nf) <- Seq(("1x", li1, 16), (s"${reps}x", liN, 16 * reps))) {
        val wh = new graft.engine.Warehouse(
          Scratch.tempDir("graft_probe_rf").toString, spark)
        wh.writeSwap("t", df.repartition(nf, col("k")),
          statsCols = Seq("k"), bloomCols = Seq("k"))
        wh.append("t", df.limit(1000).coalesce(1))
        time(s"refresh_stats         $label") {
          val (r, u) = wh.refreshStatsManifest("t"); r.toLong * 1000000 + u
        }
        time(s"refresh_bloom         $label") {
          val (r, u) = wh.refreshBloomManifest("t"); r.toLong * 1000000 + u
        }
        time(s"rebuild_bloom         $label") {
          wh.writeBloomManifest("t", Seq("k")).toLong
        }
      }
    }

    // round-13 continuation: KMV bottom-k sketch (q465/q466) — corpus
    // grows Nx (distinct ids too), k stays fixed: the two-level build
    // must grow ~linearly (per-partition partials, register-bounded
    // re-take), and the merge of two prebuilt sketches must stay FLAT
    // (it touches 2k registers regardless of what they summarize)
    {
      import graft.functions.Sketches
      val li1 = table(spark, sfDir, "lineitem").select(
        col("l_returnflag").as("g"), col("l_orderkey").cast("long").as("id"))
      val span = 10000000L
      val liN = (0 until reps).map(r =>
        li1.withColumn("id", col("id") + lit(r * span)))
        .reduce(_ unionByName _).pinEager()
      for ((label, df) <- Seq("1x" -> li1.pinEager(), s"${reps}x" -> liN)) {
        time(s"kmv_build             $label") {
          Sketches.kmvRegisters(df, Seq("g"), col("id"), 256).count()
        }
        val a = Sketches.kmvRegisters(df.filter(col("id") % 2 === 0),
          Seq("g"), col("id"), 256).pinEager()
        val b = Sketches.kmvRegisters(df.filter(col("id") % 2 === 1),
          Seq("g"), col("id"), 256).pinEager()
        time(s"kmv_merge             $label") {
          Sketches.kmvMerge(a.unionByName(b), Seq("g"), 256).count()
        }
      }
    }

    // round 14: the k-bounded KMV partial (VERDICT r13 item 4) on the
    // adversarial shape — ONE group, ONE input partition, distinct ids
    // growing Nx. The former collect_set partial materialized an
    // O(partition distinct) array before its k-cut (millions of structs
    // in one aggregation buffer); the BottomKPairs aggregate holds k=256
    // entries at every stage, so per-row cost is flat and total time
    // grows ~linearly with rows — no superlinear blowup, no giant-array
    // allocation. The weighted build rides the same aggregate (weights
    // 1..4 here, so rows explode ~2.5x before the bounded partial).
    {
      import graft.functions.Sketches
      def skewed(n: Long) = spark.range(n).select(lit("g").as("g"),
        (col("id") * 2654435761L % 2000000011L).as("id")).coalesce(1)
      for ((label, n) <- Seq("1x" -> 1500000L, s"${reps}x" -> (1500000L * reps))) {
        val df = skewed(n).pinEager()
        time(s"kmv_skew_build        $label") {
          Sketches.kmvRegisters(df, Seq("g"), col("id"), 256).count()
        }
        time(s"kmv_skew_weighted     $label") {
          Sketches.kmvWeightedRegisters(df, Seq("g"), col("id"),
            col("id") % 4L + 1L, 256).count()
        }
      }
    }

    // round 14 continuation: set-op estimates are REGISTER-GRAIN — two
    // ≤k-row inputs, one ≤2k-row bottom-k window — so the probe must read
    // FLAT as the summarized corpus grows Nx (registers built OUTSIDE the
    // timer; what's timed is everything kmvSetOps adds on top).
    {
      import graft.functions.Sketches
      for ((label, n) <- Seq("1x" -> 1500000L, s"${reps}x" -> (1500000L * reps))) {
        val ra = Sketches.kmvRegisters(
          spark.range(n).select((col("id") * 3L).as("id")), Nil, col("id"), 256)
          .pinEager()
        val rb = Sketches.kmvRegisters(
          spark.range(n).select((col("id") * 2L).as("id")), Nil, col("id"), 256)
          .pinEager()
        time(s"kmv_set_ops           $label") {
          Sketches.kmvSetOps(ra, rb, 256).count()
        }
      }
    }

    // round 14 continuation: MG frequency registers — the build is a
    // value-grain hash aggregate (exact counts, map-side combine — cost
    // ~linear in distinct ids, the qsRegisters discipline) plus a
    // k-bounded BottomKPairs cut on ONE skewed group; the MERGE consumes
    // two <= k summaries and must read FLAT at any summarized volume.
    {
      import graft.functions.Sketches
      for ((label, n) <- Seq("1x" -> 1500000L, s"${reps}x" -> (1500000L * reps))) {
        // 10% of the mass in 10 hot keys, the rest hashed singletons —
        // the few-heavy/long-tail shape (an all-singleton domain would
        // compress to the legal-but-empty summary and probe nothing)
        val df = spark.range(n).select(col("id"), lit("g").as("g"),
          when(col("id") % 10 === 0, (col("id") % 100).cast("string"))
            .otherwise(concat(lit("t"),
              (col("id") * 2654435761L % 2000000011L).cast("string")))
            .as("v"))
          .pinEager()
        time(s"mg_build              $label") {
          Sketches.mgRegisters(df, Seq("g"), col("v"), 256).count()
        }
        val a = Sketches.mgRegisters(df.filter(col("id") % 2 === 0),
          Seq("g"), col("v"), 256).pinEager()
        val b = Sketches.mgRegisters(df.filter(col("id") % 2 === 1),
          Seq("g"), col("v"), 256).pinEager()
        time(s"mg_merge              $label") {
          Sketches.mgCompress(a.unionByName(b), Seq("g"), 256).count()
        }
      }
    }

    // round 14 continuation II: the optimizer-statistics family.
    // profile_build is ONE scan + one k-bounded aggregate for ALL
    // profiled columns (explode to (ts_col, value)) — cost ~linear in
    // rows, state bounded at cols*k; dfp_semi_read must stay FLAT as the
    // FILE count grows Nx (the dim's 3 keys keep O(1) files regardless);
    // hot_cold_join vs plain_skew_join times the same skewed join both
    // ways (one key owning a third of the fact) — the split routes the
    // hot mass through a broadcast instead of one reducer.
    {
      import graft.engine.{Skew, TableStats, Warehouse}
      for ((label, n) <- Seq("1x" -> 1000000L, s"${reps}x" -> (1000000L * reps))) {
        val df = spark.range(n).select(col("id"),
          (col("id") % 1000L).as("a"),
          (col("id") * 2654435761L % 97L).as("b"),
          concat(lit("s"), (col("id") % 5000L).cast("string")).as("c"))
          .pinEager()
        time(s"profile_build         $label") {
          TableStats.columnRegisters(df, Seq("a", "b", "c"), 256).count() +
            TableStats.columnCounts(df, Seq("a", "b", "c")).count()
        }
      }
      for ((label, files) <- Seq("1x" -> 16, s"${reps}x" -> (16 * reps))) {
        val wh = new Warehouse(
          Scratch.tempDir("graft_probe_dfp").toString,
          spark)
        wh.writeSwap("f", spark.range(1000000L)
          .select(col("id").as("k"), (col("id") * 2L).as("x"))
          .repartitionByRange(files, col("k")).sortWithinPartitions("k"),
          statsCols = Seq("k"), bloomCols = Seq("k"))
        val dim = spark.range(3).select((col("id") * 400000L + 7L).as("dk"))
        time(s"dfp_semi_read         $label") {
          wh.readPrunedSemi("f", "k", dim, "dk", maxKeys = 16).count()
        }
      }
      for ((label, n) <- Seq("1x" -> 1000000L, s"${reps}x" -> (1000000L * reps))) {
        val fact = spark.range(n).select(
          when(col("id") % 3L === 0L, 7L).otherwise(col("id") % 50000L)
            .as("k"), col("id").as("x")).pinEager()
        val dim = spark.range(50000L).select(col("id").as("k"),
          (col("id") + 1L).as("y")).pinEager()
        time(s"plain_skew_join       $label") {
          fact.hint("shuffle_hash").join(dim, Seq("k")).count()
        }
        time(s"hot_cold_join         $label") {
          Skew.hotColdJoin(fact, dim, "k", Seq(7L)).count()
        }
      }
    }

    // round 15: the advisor readers are REGISTER-GRAIN — every input
    // (summaries, MCV, counts, NDV) is a <= cols*k-row stored table, so
    // advice cost must read FLAT as the SUMMARIZED corpus grows Nx
    // (inputs built outside the timer; what's timed is everything the
    // advisors add on top). mcv_build is the one value-grain pass of
    // the family: ~linear in rows with a bounded-NDV window (the q504
    // lesson — declare MCV only on bounded-cardinality eq keys).
    {
      import graft.engine.TableStats
      for ((label, n) <- Seq("1x" -> 1000000L, s"${reps}x" -> (1000000L * reps))) {
        val df = spark.range(n).select(
          (col("id") % 1000L).as("a"),
          (col("id") * 2654435761L % 199L).as("b")).pinEager()
        time(s"mcv_build             $label") {
          TableStats.mcvProfiles(df, Seq("a", "b"), 64).count()
        }
        val sums = TableStats.columnSummaries(df, Seq("a", "b"), 256)
          .pinEager()
        val mcvs = TableStats.mcvProfiles(df, Seq("a", "b"), 64)
          .pinEager()
        val counts = TableStats.columnCounts(df, Seq("a", "b"))
          .pinEager()
        val ndv = TableStats.ndvEstimate(
          TableStats.columnRegisters(df, Seq("a", "b"), 256), 256)
          .pinEager()
        val wl = spark.createDataFrame(Seq(
          ("a", "eq", Option.empty[Long], Option.empty[Long],
            Option("7"), 4L),
          ("b", "range", Option(10L), Option(90L),
            Option.empty[String], 1L)))
          .toDF("wl_col", "wl_kind", "wl_lo", "wl_hi", "wl_value",
            "wl_weight")
        time(s"layout_advisor        $label") {
          TableStats.layoutAdvisor(sums, mcvs, counts, ndv, wl,
            Seq("a", "b")).count()
        }
        val boxes = spark.createDataFrame(Seq(
          ("a", 0L, 99L, "b", 0L, 19L, 3L),
          ("a", 0L, 499L, "b", 0L, 198L, 1L)))
          .toDF("wl_col1", "wl_lo1", "wl_hi1", "wl_col2", "wl_lo2",
            "wl_hi2", "wl_weight")
        time(s"zorder_advisor        $label") {
          TableStats.zorderAdvisor(sums, boxes,
            Seq(Seq("a"), Seq("b"), Seq("a", "b"))).count()
        }
      }
    }

    // round 15 continuation: the rollup-rewrite and AQP-sample SERVING
    // paths must read FLAT as the base grows Nx — both serve from
    // size-bounded stored state (dim-tuple-grain partials; the k-row
    // sample), which is the whole point of storing it. The builds are
    // the honest ~linear one-time costs, timed beside them; sample_merge
    // takes a FIXED 10k batch against the k-row stored sample —
    // O(batch + k) regardless of base size (the q521 lifecycle).
    {
      import graft.engine.Rollup
      import graft.engine.Rollup.{Measure, Want}
      import graft.functions.Sketches
      for ((label, n) <- Seq("1x" -> 1000000L, s"${reps}x" -> (1000000L * reps))) {
        val df = spark.range(n).select(col("id"),
          (col("id") % 7L).as("g"), (col("id") % 11L).as("h"),
          (col("id") % 1000L).as("v")).pinEager()
        val meas = Seq(Measure("sum", "v"), Measure("count", "*"))
        time(s"rollup_build          $label") {
          Rollup.partials(df, Seq("g", "h"), meas).count()
        }
        val parts = Rollup.partials(df, Seq("g", "h"), meas).pinEager()
        time(s"rollup_serve          $label") {
          Rollup.answer(parts, Seq("g"),
            Seq(Want("sv", "sum", "v"), Want("nr", "count", "*")),
            Seq(col("h") === 3L)).count()
        }
        val idv = df.select(col("id"), col("v"))
        time(s"sample_build          $label") {
          Sketches.uniformSampleTable(idv, col("id"), 256).count()
        }
        val stored = Sketches.uniformSampleTable(idv, col("id"), 256)
          .pinEager()
        val batch = spark.range(n, n + 10000L).select(col("id"),
          (col("id") % 1000L).as("v")).pinEager()
        time(s"sample_merge          $label") {
          Sketches.uniformSampleMerge(stored, batch, col("id"), 256).count()
        }
      }
    }

    // round 15 continuation III: the don't-recompute surfaces. ivm_delta
    // (a FIXED 10k-row batch on each side against an Nx base) must grow
    // only with the base SCAN (the A_old ⋈ dB term reads the base once,
    // dB broadcasts), never with the full join volume — ivm_recompute
    // beside it pays the whole join again and is the contrast.
    // rel_signature and constraint_check are metadata-only (file listing
    // + sidecar read) and must stay FLAT — they are what the reuse and
    // elimination decisions cost at plan time; constraint_verify is the
    // honest one-time linear scan bound to the signature it records.
    {
      import graft.engine.{Constraints, JoinView, Warehouse}
      val wroot = Scratch.tempDir("graft_probe_ivm").toString
      val wh = new Warehouse(wroot, spark)
      for ((label, n) <- Seq("1x" -> 1000000L, s"${reps}x" -> (1000000L * reps))) {
        val a = spark.range(n).select(col("id").as("okey"),
          col("id").as("a_cur"), (col("id") % 97L).as("av"))
        val b = spark.range(n).select(col("id").as("okey"),
          col("id").as("b_cur"), (col("id") % 89L).as("bv"))
        wh.drop(s"pa_$label"); wh.drop(s"pb_$label"); wh.drop(s"pv_$label")
        wh.writeSwap(s"pa_$label", a)
        wh.writeSwap(s"pb_$label", b)
        JoinView.commitCursors(wh, s"pv_$label",
          Seq(s"pa_$label" -> "a_cur", s"pb_$label" -> "b_cur"))
        val a2 = spark.range(n + 10000L).select(col("id").as("okey"),
          col("id").as("a_cur"), (col("id") % 97L).as("av"))
          .pinEager()
        val b2 = spark.range(n + 10000L).select(col("id").as("okey"),
          col("id").as("b_cur"), (col("id") % 89L).as("bv"))
          .pinEager()
        time(s"ivm_delta             $label") {
          JoinView.delta(wh, s"pv_$label", s"pa_$label", a2, "a_cur",
            s"pb_$label", b2, "b_cur", Seq("okey")).count()
        }
        time(s"ivm_recompute         $label") {
          a2.join(b2, Seq("okey")).count()
        }
        time(s"rel_signature         $label") {
          wh.relationSignature(s"pa_$label").size.toLong
        }
        time(s"constraint_verify     $label") {
          Constraints.verifyKey(wh, s"pa_$label", Seq("okey")); 1L
        }
        time(s"constraint_check      $label") {
          if (Constraints.verifiedKey(wh, s"pa_$label", Seq("okey"))) 1L else 0L
        }
      }
    }

    // eager aggregation (Yan-Larson): what crosses the join is one
    // partial per distinct key (100k partials) instead of every fact row
    // (n rows) — eager_agg should grow with the partial-build scan while
    // naive_agg_join pays the full row exchange. Dim attrs drive the
    // grouping; 10 dim rows per key keep the non-uniqueness case honest.
    {
      import graft.engine.Rollup
      import graft.engine.Rollup.Want
      for ((label, n) <- Seq("1x" -> 1000000L, s"${reps}x" -> (1000000L * reps))) {
        val fact = spark.range(n).select(
          (col("id") % 100000L).as("k"), (col("id") % 997L).as("v"))
          .pinEager()
        val dim = spark.range(100000L * 10L).select(
          (col("id") % 100000L).as("k"), (col("id") % 23L).as("g"))
          .pinEager()
        val wants = Seq(Want("sv", "sum", "v"), Want("nr", "count", "*"))
        time(s"eager_agg             $label") {
          Rollup.eagerAgg(fact, dim, Seq("k"), Seq("g"), wants).count()
        }
        time(s"naive_agg_join        $label") {
          Rollup.direct(fact.join(dim, Seq("k")), Seq("g"), wants, Nil).count()
        }
      }
    }

    val json = probeRows.map { case (label, sec, rows) =>
      f"""{"probe":"$label","sec":$sec%.3f,"rows":$rows}"""
    }.mkString(
      s"""{"sf_dir":"$sfDir","replicas":$reps,"probes":[\n""", ",\n", "\n]}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(s"[probe] wrote $outJson (${probeRows.size} probes)")
    spark.stop()
  }
}
