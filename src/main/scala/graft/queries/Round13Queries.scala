package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources.{events, table}
import graft.engine.Pin.PinOps

/** Round-13 battery: the stored-state monitor pattern extended to the
  * remaining batch-only families (VERDICT r12 next-round list) — the
  * embedding-centroid drift monitor on frozen centroid-sum registers,
  * the rolling trailing-window baseline maintained at per-day grain with
  * partition-pruned slides, the min/max data-skipping manifest read
  * path, and the streaming register-table compaction lifecycle. Exact
  * integer arithmetic and verbatim oracle replay throughout (the
  * Round12Queries discipline).
  */
object Round13Queries extends QuerySet {

  /** The planted per-(label, pos) structure added to every centroid
    * register in q452 (the r11 planted-signal discipline: the synthetic
    * embeddings are iid noise, so RAW centroid directions are
    * meaningless — observed slice-vs-slice cosine is |r| <= 0.27 noise).
    * Adding a deterministic label-dependent offset to every vector (==
    * `n_vecs * off` at register grain — exact integer, engine-portable)
    * simulates label-clustered embeddings: same-structure slices read
    * cosine ~0.996-0.998, and `labelShift = 1` (the upstream
    * model-swap/feature-drift plant) reads -0.41..-0.46 — an
    * unmissable planted separation, value-inspected at sf0.01.
    */
  private def structured(regs: DataFrame, labelShift: Int): DataFrame =
    regs.withColumn("sum_q", col("sum_q") + col("n_vecs") *
      ((((col("label") + lit(labelShift)) * 31 + col("pos") * 17) % 13 - 6)
        .cast("long") * 150L))

  /** The same offset in DuckDB (operands non-negative, so `%` remainder
    * semantics agree engine-to-engine).
    */
  private def offSql(labelShift: Int): String =
    s"(((label + $labelShift) * 31 + pos * 17) % 13 - 6) * 150"

  val all: Seq[QueryDef] = Seq(

    QueryDef("q452_centroid_drift_lifecycle", (s, d) => {
      // the stored-baseline EMBEDDING drift monitor (VERDICT r12 #1):
      // q245/q325's centroid family rescans the baseline corpus every
      // run — exactly the gap q448 closed for scalar distributions. Two-
      // run Registry lifecycle: run 1 CTAS-materializes the baseline
      // slice's per-(label, pos) centroid-SUM registers (exact quantized
      // integers, the labelCentroids relation) and scores night A (same
      // planted structure — honest high-cosine null, 0.996-0.998);
      // run 2's baseline branch is a provably-empty merge (filter(false)
      // folds to an empty LocalRelation — baseline vectors NEVER
      // rescanned) while the scores model merges night B, whose planted
      // labelShift=1 structure drift the monitor must flag (observed
      // -0.41..-0.46, 10/10 labels — both branches value-inspected).
      // Scoring reads STORED sums via centroidCosFromRegisters: cost
      // labels x dims, independent of baseline vector count (ScaleProbe
      // carries the nightly-flat reading; RegistrySpec pins no-rescan by
      // sabotaging the stored registers).
      import graft.engine.{Incremental, IncrementalMat, Model, Registry}
      import graft.operators.GenericTests
      import graft.pipeline.Clustering
      val wh = Scratch.warehouse("q452", d, s,
        Seq("cent_baseline", "cent_scores"))
      val reg = new Registry(s, wh)
      reg.source("emb_src", table(s, d, "embeddings"))
      def cent(df: DataFrame, labelShift: Int): DataFrame =
        structured(Clustering.labelCentroids(df, "label", "embedding")
          .select(col("label"), col("pos"), col("sum_q"), col("n_vecs")),
          labelShift)
      reg.register(Model("cent_baseline", Seq("emb_src"),
        IncrementalMat(Incremental.Merge, Seq("label", "pos")),
        ctx => {
          val w = if (ctx.isIncremental) ctx.ref("emb_src").filter(lit(false))
            else ctx.ref("emb_src").filter(col("vec_id") % 4 < 2)
          cent(w, 0)
        }))
      reg.register(Model("cent_scores", Seq("emb_src", "cent_baseline"),
        IncrementalMat(Incremental.Merge, Seq("score_tag", "label")),
        ctx => {
          val (tag, slice, shift) =
            if (ctx.isIncremental) ("night_b", 3, 1) else ("night_a", 2, 0)
          val night = cent(
            ctx.ref("emb_src").filter(col("vec_id") % 4 === slice), shift)
          GenericTests.centroidCosFromRegisters(ctx.ref("cent_baseline"), night)
            .withColumn("score_tag", lit(tag))
        }))
      reg.run()
      reg.run()
      wh.read("cent_scores")
    }, Some(
      s"""WITH q AS (SELECT vec_id, label, $qvecSql AS v FROM embeddings),
         |c AS (SELECT vec_id, label, i.i - 1 AS pos, v[i.i] AS x
         |      FROM q, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) i),
         |base AS (SELECT label, pos,
         |                CAST(sum(x) AS HUGEINT)
         |                  + CAST(count(x) AS HUGEINT) * (${offSql(0)}) AS s,
         |                CAST(count(x) AS BIGINT) AS n
         |         FROM c WHERE vec_id % 4 < 2 GROUP BY 1, 2),
         |na AS (SELECT label, pos,
         |              CAST(sum(x) AS HUGEINT)
         |                + CAST(count(x) AS HUGEINT) * (${offSql(0)}) AS s,
         |              CAST(count(x) AS BIGINT) AS n
         |       FROM c WHERE vec_id % 4 = 2 GROUP BY 1, 2),
         |nb AS (SELECT label, pos,
         |              CAST(sum(x) AS HUGEINT)
         |                + CAST(count(x) AS HUGEINT) * (${offSql(1)}) AS s,
         |              CAST(count(x) AS BIGINT) AS n
         |       FROM c WHERE vec_id % 4 = 3 GROUP BY 1, 2),
         |ja AS (SELECT coalesce(b.label, n.label) AS label,
         |              b.s AS sr, n.s AS sl, b.n AS nr_c, n.n AS nl_c
         |       FROM base b FULL OUTER JOIN na n
         |         ON b.label = n.label AND b.pos = n.pos),
         |ga AS (SELECT 'night_a' AS score_tag, label,
         |              CAST(max(nr_c) AS BIGINT) AS n_ref,
         |              CAST(max(nl_c) AS BIGINT) AS n_live,
         |              CASE WHEN sum(sr * sr) > 0 AND sum(sl * sl) > 0
         |                   THEN CAST(sum(sr * sl) AS DOUBLE)
         |                      / (sqrt(CAST(sum(sr * sr) AS DOUBLE))
         |                         * sqrt(CAST(sum(sl * sl) AS DOUBLE)))
         |              END AS centroid_cos
         |       FROM ja GROUP BY 2),
         |jb AS (SELECT coalesce(b.label, n.label) AS label,
         |              b.s AS sr, n.s AS sl, b.n AS nr_c, n.n AS nl_c
         |       FROM base b FULL OUTER JOIN nb n
         |         ON b.label = n.label AND b.pos = n.pos),
         |gb AS (SELECT 'night_b' AS score_tag, label,
         |              CAST(max(nr_c) AS BIGINT) AS n_ref,
         |              CAST(max(nl_c) AS BIGINT) AS n_live,
         |              CASE WHEN sum(sr * sr) > 0 AND sum(sl * sl) > 0
         |                   THEN CAST(sum(sr * sl) AS DOUBLE)
         |                      / (sqrt(CAST(sum(sr * sr) AS DOUBLE))
         |                         * sqrt(CAST(sum(sl * sl) AS DOUBLE)))
         |              END AS centroid_cos
         |       FROM jb GROUP BY 2)
         |SELECT * FROM ga UNION ALL SELECT * FROM gb""".stripMargin)),

    QueryDef("q453_rolling_baseline", (s, d) => {
      // rolling-baseline maintenance (VERDICT r12 #2): q448/q450 freeze a
      // baseline forever; a real monitor re-baselines on a trailing
      // window without rescanning history. Registers make the slide
      // exact: the stored relation keeps PER-(day, value) grain in the
      // microbatch layout (one period partition per day — the q61
      // overwritePeriods discipline), admission writes ONLY the new
      // day's partition, eviction is the window view's period-range
      // read (Warehouse.readPeriodRange: only the five in-window period
      // dirs are listed or read — out-of-window history contributes
      // ZERO I/O, not even a listing; never a rewrite). Three-run
      // lifecycle: build days 10-14 + score; slide to 11-15 + score;
      // slide to 12-16 + score — each score is the trailing-5-day
      // window's register rollup KS'd against the fixed probe day 25
      // via ksFromRegisters (no raw-history rescan; the current day
      // comes from the period-directory NAMES — one listing, no Spark
      // job). Day
      // 16 carries a PLANTED +50000-cent shift (complete separation:
      // max honest value is 49002 cents), so the third window must flag:
      // observed d_ppm 61332 / 58148 (honest nulls) -> 207444 (3.5x) at
      // sf0.01 — value-inspected. RegistrySpec pins byte-identical
      // untouched partitions across a slide.
      import graft.engine.{Incremental, IncrementalMat, Model, Registry}
      import graft.functions.QuantileSketch
      import graft.pipeline.Inference
      val wh = Scratch.warehouse("q453", d, s, Seq("roll_regs", "roll_scores"))
      val reg = new Registry(s, wh)
      val ev = events(s, d)
        .filter(col("value").isNotNull)
        .select(col("ts").cast("date").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      reg.source("ev_src", ev)
      reg.register(Model("roll_regs", Seq("ev_src"),
        IncrementalMat(Incremental.Microbatch("day_ts", "2024-01-10",
          "2024-01-15", grain = "day"), Nil),
        ctx => {
          val src = ctx.ref("ev_src")
          val base = if (ctx.isIncremental) src
            else src.filter(col("day") >= lit("2024-01-10").cast("date") &&
              col("day") < lit("2024-01-15").cast("date"))
          base
            .withColumn("v", col("cents") +
              when(col("day") === lit("2024-01-16").cast("date"), 50000L)
                .otherwise(0L))
            .groupBy(col("day").cast("timestamp").as("day_ts"),
              col("v").as("qs_value"))
            .agg(count(lit(1)).as("qs_weight"))
        }))
      reg.register(Model("roll_scores", Seq("ev_src", "roll_regs"),
        IncrementalMat(Incremental.Merge, Seq("window_end")),
        ctx => {
          // "what day is current" comes from the period-directory NAMES
          // (one listing, no Spark job), and the window view reads ONLY
          // its five period dirs (Warehouse.readPeriodRange — the rest
          // of history contributes zero I/O, not even a listing: the
          // partition-pruned eviction made literal)
          val end = java.time.LocalDate.parse(wh.periodValues("roll_regs").max)
          val start = end.minusDays(4)
          val win = wh.readPeriodRange("roll_regs", start.toString, end.toString)
            .groupBy(col("qs_value"))
            .agg(sum(col("qs_weight")).cast("long").as("qs_weight"))
          val probe = QuantileSketch.qsRegisters(
            ctx.ref("ev_src")
              .filter(col("day") === lit("2024-01-25").cast("date")),
            Nil, col("cents"))
          Inference.ksFromRegisters(win, probe)
            .withColumn("window_end", lit(end.toString).cast("date"))
        }))
      reg.run()
      reg.runMicrobatches("roll_regs", "2024-01-15", "2024-01-16", "day")
      reg.runMicrobatches("roll_regs", "2024-01-16", "2024-01-17", "day")
      wh.read("roll_scores")
    }, Some(
      """WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |           FROM events WHERE value IS NOT NULL),
        |r AS (SELECT day,
        |             CASE WHEN day = DATE '2024-01-16' THEN c + 50000
        |                  ELSE c END AS v,
        |             CAST(count(*) AS BIGINT) AS w
        |      FROM e WHERE day >= DATE '2024-01-10' AND day <= DATE '2024-01-16'
        |      GROUP BY 1, 2),
        |p AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS wb FROM e
        |      WHERE day = DATE '2024-01-25' GROUP BY 1),
        |wins AS (SELECT * FROM (VALUES (DATE '2024-01-10', DATE '2024-01-14'),
        |                               (DATE '2024-01-11', DATE '2024-01-15'),
        |                               (DATE '2024-01-12', DATE '2024-01-16'))
        |                 t(ws, we)),
        |wr AS (SELECT we, v, CAST(sum(w) AS BIGINT) AS wa
        |       FROM r JOIN wins ON r.day >= ws AND r.day <= we GROUP BY 1, 2),
        |u AS (SELECT we, v, wa, CAST(0 AS BIGINT) AS wb FROM wr
        |      UNION ALL
        |      SELECT wins.we, p.v, CAST(0 AS BIGINT), p.wb
        |      FROM p CROSS JOIN wins),
        |g AS (SELECT we, v, CAST(sum(wa) AS BIGINT) AS ca,
        |             CAST(sum(wb) AS BIGINT) AS cb
        |      FROM u GROUP BY 1, 2),
        |s AS (SELECT we, sum(ca) OVER (PARTITION BY we ORDER BY v) AS cum_a,
        |             sum(cb) OVER (PARTITION BY we ORDER BY v) AS cum_b,
        |             sum(ca) OVER (PARTITION BY we) AS n_a,
        |             sum(cb) OVER (PARTITION BY we) AS n_b
        |      FROM g)
        |SELECT we AS window_end, CAST(n_a AS BIGINT) AS n_a,
        |       CAST(n_b AS BIGINT) AS n_b,
        |       CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
        |                    - CAST(cum_b AS HUGEINT) * n_a)) AS BIGINT) AS d_num,
        |       CAST((CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
        |                         - CAST(cum_b AS HUGEINT) * n_a)) AS HUGEINT)
        |             * 1000000)
        |            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS d_ppm
        |FROM s GROUP BY we, n_a, n_b""".stripMargin)),

    QueryDef("q454_manifest_pruned_read", (s, d) => {
      // the min/max data-skipping manifest end-to-end (VERDICT r12 #3):
      // CTAS a partkey-range-clustered copy of lineitem with the footer
      // min/max sidecar, then answer a range query through readPruned —
      // files whose recorded range is disjoint from [100, 299] are
      // dropped BEFORE Spark lists them, and the result is provably
      // identical to the plain filter (this oracle IS that proof; at
      // sf0.01 the production decision keeps 1-2 of 8 files, pinned by
      // ManifestSpec together with the append-staleness fallback and the
      // Z-order second-dimension composition). The explicit 8-way range
      // layout stands in for the corpus-scale file count AQE would
      // produce at real volume.
      val wh = Scratch.warehouse("q454", d, s, Seq("li_part"))
      val li = table(s, d, "lineitem").select(
        col("l_partkey").cast("long").as("partkey"),
        col("l_quantity").cast("long").as("qty"),
        col("l_returnflag").as("flag"))
      wh.writeSwap("li_part",
        li.repartitionByRange(8, col("partkey")).sortWithinPartitions("partkey"),
        statsCols = Seq("partkey"))
      wh.readPruned("li_part", "partkey", 100L, 299L)
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
    }, Some(
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE CAST(l_partkey AS BIGINT) >= 100 AND CAST(l_partkey AS BIGINT) <= 299
        |GROUP BY 1""".stripMargin)),

    QueryDef("q455_stream_register_compaction", (s, d) => {
      // the streaming register-table COMPACTION lifecycle (VERDICT r12
      // #6): q447 compacts at read; a long-running stream also needs the
      // periodic maintenance pass so the materialized table itself stays
      // k-bounded per closed window. Two-phase file-stream ingest through
      // the aggregate upsert bridge (aggStream sum-combiners == register
      // bag union), compaction BETWEEN the phases, checkpoint-resumed
      // second ingest touching only the new file: ingest days 1-15 ->
      // compactRegisterTable(k=16) over the closed hours -> land days
      // 16-30 and resume -> read per-hour median/p90 rank cuts off the
      // stored relation. Phase-1 hours ride one compaction level (the
      // declared one-sided ceil(W/k) envelope; observed at sf0.01 the
      // k=16 summaries answer within their stride — the oracle replays
      // the compression verbatim so the match is exact, and
      // StreamingSpec pins the k+1 size bound and the cross-boundary
      // envelope on hand vectors); phase-2 hours are exact registers.
      import graft.streaming.EventsStream
      import graft.functions.QuantileSketch
      import org.apache.spark.sql.types.{DoubleType, StructField, StructType, TimestampType}
      val wh = Scratch.warehouse("q455", d, s, Seq("stream_regs"))
      Scratch.resetCheckpoint(wh, "stream_regs")
      val srcDir = java.nio.file.Paths.get(wh.root, "_stream_src")
      wh.deleteRec(srcDir)
      java.nio.file.Files.createDirectories(srcDir)
      val ev = events(s, d).filter(col("value").isNotNull)
        .select(col("ts"), col("value"))
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      // land one parquet file per phase into the streamed dir (the
      // arriving-files shape a FileStreamSource tails)
      def land(df: org.apache.spark.sql.DataFrame, phase: String): Unit = {
        val tmp = srcDir.resolve(phase + "_tmp")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).filter(p =>
          p.getFileName.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.createLink(srcDir.resolve(phase + ".parquet"), part)
        wh.deleteRec(tmp)
      }
      val schema = StructType(Seq(StructField("ts", TimestampType),
        StructField("value", DoubleType)))
      def ingest(): Unit =
        EventsStream.aggStream(
          s.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet").parquet(srcDir.toString),
          wh, "stream_regs", Seq("hour_start", "qs_value"),
          Seq("qs_weight" -> "sum")) { batch =>
          batch.groupBy(date_trunc("hour", col("ts")).as("hour_start"),
            floor(col("value") * 100 + 0.5).cast("long").as("qs_value"))
            .agg(count(lit(1)).as("qs_weight"))
        }.awaitTermination()
      land(ev.filter(col("ts") < cut), "p1")
      ingest()
      EventsStream.compactRegisterTable(wh, "stream_regs", Seq("hour_start"), 16)
      land(ev.filter(col("ts") >= cut), "p2")
      ingest()
      QuantileSketch.qsQuantile(wh.read("stream_regs"), Seq("hour_start"),
        Seq(500, 900))
    }, Some(
      """WITH v AS (
        |  SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
        |           AS h,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS qv
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT h, qv, CAST(count(*) AS BIGINT) AS w FROM v GROUP BY 1, 2),
        |c1 AS (SELECT h, qv, w,
        |              sum(w) OVER (PARTITION BY h ORDER BY qv) AS cum,
        |              sum(w) OVER (PARTITION BY h) AS tot
        |       FROM r WHERE h < TIMESTAMP '2024-01-16 00:00:00'),
        |k1 AS (SELECT h, qv, cum,
        |              cum - coalesce(lag(cum)
        |                OVER (PARTITION BY h ORDER BY qv), 0) AS wt
        |       FROM c1
        |       WHERE (cum // ((tot + 15) // 16)) > ((cum - w) // ((tot + 15) // 16))
        |          OR cum = tot),
        |m AS (SELECT h, qv, CAST(wt AS BIGINT) AS w FROM k1
        |      UNION ALL
        |      SELECT h, qv, w FROM r WHERE h >= TIMESTAMP '2024-01-16 00:00:00'),
        |q AS (SELECT h, qv, w,
        |             sum(w) OVER (PARTITION BY h ORDER BY qv) AS cum,
        |             sum(w) OVER (PARTITION BY h) AS tot
        |      FROM m)
        |SELECT h AS hour_start, CAST(qm AS INTEGER) AS q_mille,
        |       CAST(qv AS BIGINT) AS value
        |FROM q, LATERAL (SELECT unnest([500, 900]) AS qm) x
        |WHERE cum * 1000 >= qm * tot
        |  AND (cum - w) * 1000 < qm * tot""".stripMargin)),

    QueryDef("q456_chi2_registers", (s, d) => {
      // the FOURTH stored-baseline scorer law: two-sample chi-square
      // homogeneity from register tables (Inference.chi2FromRegisters —
      // the exact chiSquareCells cell law over the 2 x K (side, value)
      // contingency with the union-densified category domain). KS/W1/TVD
      // (q448-q450) weight shifts by mass; chi-square weights them by
      // 1/E — the law that flags a TAIL category exploding. Dollar-bucket
      // registers, baseline window vs rest-of-month: the honest-null
      // branch reads 264.19 points on dof 292 (E[chi2] = dof — the
      // multinomial noise floor, value-inspected); the planted branch
      // shifts the live side +2000 cents before bucketing (every bucket
      // key moves up 20) and must flag: 1624.96 points on dof 295, 6.2x
      // the null. All exact integer milli-points, per-term truncating
      // divisions mirrored verbatim (non-negative operands throughout).
      import graft.functions.QuantileSketch
      import graft.pipeline.Inference
      val ev = events(s, d)
        .filter(col("value").isNotNull)
        .select(col("ts").cast("date").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val split = lit("2024-01-21").cast("date")
      def regs(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
          v: Column) = QuantileSketch.qsRegisters(f(ev), Nil, v)
      val base = regs(_.filter(col("day") < split),
        call_function("div", col("cents"), lit(100L)))
        .pinLazy() // feeds both branches' scorers
      def branch(tag: String, shift: Long) =
        Inference.chi2FromRegisters(base,
          regs(_.filter(col("day") >= split),
            call_function("div", col("cents") + lit(shift), lit(100L))))
          .withColumn("branch", lit(tag))
      branch("null", 0L).unionByName(branch("planted", 2000L))
    }, Some(
      """WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |           FROM events WHERE value IS NOT NULL),
        |a AS (SELECT c // 100 AS v, CAST(count(*) AS BIGINT) AS w FROM e
        |      WHERE day < DATE '2024-01-21' GROUP BY 1),
        |bn AS (SELECT c // 100 AS v, CAST(count(*) AS BIGINT) AS w FROM e
        |       WHERE day >= DATE '2024-01-21' GROUP BY 1),
        |bp AS (SELECT (c + 2000) // 100 AS v, CAST(count(*) AS BIGINT) AS w
        |       FROM e WHERE day >= DATE '2024-01-21' GROUP BY 1),
        |un AS (SELECT v, CAST(sum(ca) AS BIGINT) AS ca,
        |              CAST(sum(cb) AS BIGINT) AS cb
        |       FROM (SELECT v, w AS ca, 0 AS cb FROM a
        |             UNION ALL SELECT v, 0, w FROM bn) t
        |       GROUP BY 1 HAVING sum(ca) + sum(cb) > 0),
        |up AS (SELECT v, CAST(sum(ca) AS BIGINT) AS ca,
        |              CAST(sum(cb) AS BIGINT) AS cb
        |       FROM (SELECT v, w AS ca, 0 AS cb FROM a
        |             UNION ALL SELECT v, 0, w FROM bp) t
        |       GROUP BY 1 HAVING sum(ca) + sum(cb) > 0),
        |sn AS (SELECT CAST(count(*) AS BIGINT) AS n_cats,
        |              CAST(sum(ca) AS BIGINT) AS n_a,
        |              CAST(sum(cb) AS BIGINT) AS n_b FROM un),
        |sp AS (SELECT CAST(count(*) AS BIGINT) AS n_cats,
        |              CAST(sum(ca) AS BIGINT) AS n_a,
        |              CAST(sum(cb) AS BIGINT) AS n_b FROM up),
        |gn AS (SELECT 'null' AS branch, sn.n_cats, sn.n_cats - 1 AS dof,
        |              sn.n_a, sn.n_b,
        |              CAST(sum(
        |                ((CAST(ca AS HUGEINT)*(n_a+n_b) - CAST(n_a AS HUGEINT)*(ca+cb))
        |                 *(CAST(ca AS HUGEINT)*(n_a+n_b) - CAST(n_a AS HUGEINT)*(ca+cb)) * 1000)
        |                // (CAST(n_a+n_b AS HUGEINT) * n_a * (ca+cb))
        |              + ((CAST(cb AS HUGEINT)*(n_a+n_b) - CAST(n_b AS HUGEINT)*(ca+cb))
        |                 *(CAST(cb AS HUGEINT)*(n_a+n_b) - CAST(n_b AS HUGEINT)*(ca+cb)) * 1000)
        |                // (CAST(n_a+n_b AS HUGEINT) * n_b * (ca+cb))) AS BIGINT)
        |                AS chi2_milli
        |       FROM un, sn GROUP BY 1, 2, 3, 4, 5),
        |gp AS (SELECT 'planted', sp.n_cats, sp.n_cats - 1, sp.n_a, sp.n_b,
        |              CAST(sum(
        |                ((CAST(ca AS HUGEINT)*(n_a+n_b) - CAST(n_a AS HUGEINT)*(ca+cb))
        |                 *(CAST(ca AS HUGEINT)*(n_a+n_b) - CAST(n_a AS HUGEINT)*(ca+cb)) * 1000)
        |                // (CAST(n_a+n_b AS HUGEINT) * n_a * (ca+cb))
        |              + ((CAST(cb AS HUGEINT)*(n_a+n_b) - CAST(n_b AS HUGEINT)*(ca+cb))
        |                 *(CAST(cb AS HUGEINT)*(n_a+n_b) - CAST(n_b AS HUGEINT)*(ca+cb)) * 1000)
        |                // (CAST(n_a+n_b AS HUGEINT) * n_b * (ca+cb))) AS BIGINT)
        |       FROM up, sp GROUP BY 1, 2, 3, 4, 5)
        |SELECT * FROM gn UNION ALL SELECT * FROM gp""".stripMargin)),

    QueryDef("q457_zorder_box_read", (s, d) => {
      // the 2-d BOX query the Z-order layout exists for (q251 + q454
      // composed end-to-end): CTAS a lineitem copy, OPTIMIZE it along
      // the (partkey, suppkey) Morton curve — the rewrite auto-refreshes
      // the data-skipping manifest from its recorded columns, the
      // maintenance contract ManifestSpec pins — then answer a
      // conjunctive box through readPrunedBox, where BOTH predicates
      // prune files multiplicatively (a 2-d box intersects few Morton
      // ranges; linear clusterBy serves only its leading column). The
      // oracle is the plain 2-d filter — the identity proof; the pruning
      // decision itself (box kept < either slab) is spec-pinned.
      val wh = Scratch.warehouse("q457", d, s, Seq("li_z"))
      wh.writeSwap("li_z", table(s, d, "lineitem").select(
        col("l_partkey").cast("long").as("partkey"),
        col("l_suppkey").cast("long").as("suppkey"),
        col("l_quantity").cast("long").as("qty"),
        col("l_returnflag").as("flag")),
        statsCols = Seq("partkey", "suppkey"))
      wh.rewriteZOrdered("li_z", "partkey", "suppkey", numFiles = 16)
      wh.readPrunedBox("li_z", Seq(("partkey", 1L, 500L), ("suppkey", 1L, 25L)))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
    }, Some(
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE CAST(l_partkey AS BIGINT) >= 1 AND CAST(l_partkey AS BIGINT) <= 500
        |  AND CAST(l_suppkey AS BIGINT) >= 1 AND CAST(l_suppkey AS BIGINT) <= 25
        |GROUP BY 1""".stripMargin)),

    QueryDef("q458_rolling_centroid", (s, d) => {
      // the 2 x 2 monitor matrix completed: scalar x frozen (q448),
      // scalar x rolling (q453), embedding x frozen (q452) — and THIS,
      // embedding x rolling. Per-day centroid-SUM registers (the
      // labelCentroids relation keyed by a pseudo-day, vec_id % 12 + 1)
      // live in the microbatch partition layout; slides admit one day's
      // partition, the trailing-5-day reference view is a directory-
      // pruned readPeriodRange + plain (label, pos) bag-SUM (centroid
      // sums merge across days exactly like scalar registers — the
      // mergeability claim this query exists to pin), and each run
      // scores the NEWEST day against the trailing window ("does today
      // still embed like the recent past"), both sides reading STORED
      // registers only. Day 12 (the last admitted) carries the
      // labelShift=1 planted structure: honest nulls read 0.979-0.996,
      // the drifted day reads -0.41..-0.46 on all 10 labels
      // (value-inspected).
      import graft.engine.{Incremental, IncrementalMat, Model, Registry}
      import graft.operators.GenericTests
      import graft.pipeline.Clustering
      val wh = Scratch.warehouse("q458", d, s, Seq("cent_days", "cent_roll"))
      val reg = new Registry(s, wh)
      reg.source("emb_src", table(s, d, "embeddings")
        .withColumn("day_ts", date_add(lit("2023-12-31").cast("date"),
          (col("vec_id") % 12 + 1).cast("int")).cast("timestamp")))
      reg.register(Model("cent_days", Seq("emb_src"),
        IncrementalMat(Incremental.Microbatch("day_ts", "2024-01-01",
          "2024-01-11", grain = "day"), Nil),
        ctx => {
          val src = ctx.ref("emb_src")
          val base = if (ctx.isIncremental) src
            else src.filter(col("day_ts") < lit("2024-01-11").cast("timestamp"))
          val regs = Clustering.labelCentroids(base, "label", "embedding",
            extraGroupCols = Seq("day_ts"))
          // the drifted day's plant rides the day column (the q452
          // structured offset with a per-day labelShift)
          val shift = when(
            col("day_ts") === lit("2024-01-12").cast("timestamp"), 1)
            .otherwise(0)
          regs.select(col("day_ts"), col("label"), col("pos"),
            (col("sum_q") + col("n_vecs") *
              ((((col("label") + shift) * 31 + col("pos") * 17) % 13 - 6)
                .cast("long") * 150L)).as("sum_q"),
            col("n_vecs"))
        }))
      reg.register(Model("cent_roll", Seq("emb_src", "cent_days"),
        IncrementalMat(Incremental.Merge, Seq("score_day", "label")),
        ctx => {
          val day = java.time.LocalDate.parse(wh.periodValues("cent_days").max)
          val ref = wh.readPeriodRange("cent_days",
            day.minusDays(5).toString, day.minusDays(1).toString)
            .groupBy(col("label"), col("pos"))
            .agg(sum(col("sum_q")).as("sum_q"), sum(col("n_vecs")).as("n_vecs"))
          val live = wh.readPeriodRange("cent_days", day.toString, day.toString)
            .select(col("label"), col("pos"), col("sum_q"), col("n_vecs"))
          GenericTests.centroidCosFromRegisters(ref, live)
            .withColumn("score_day", lit(day.toString).cast("date"))
        }))
      reg.run()
      reg.runMicrobatches("cent_days", "2024-01-11", "2024-01-12", "day")
      reg.runMicrobatches("cent_days", "2024-01-12", "2024-01-13", "day")
      wh.read("cent_roll")
    }, Some(
      s"""WITH q AS (SELECT vec_id, label,
         |                  CAST(vec_id % 12 + 1 AS BIGINT) AS d,
         |                  $qvecSql AS v
         |           FROM embeddings),
         |c AS (SELECT d, label, i.i - 1 AS pos, v[i.i] AS x
         |      FROM q, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) i),
         |r AS (SELECT d, label, pos,
         |             CAST(sum(x) AS HUGEINT)
         |               + CAST(count(x) AS HUGEINT)
         |                 * ((((label + CASE WHEN d = 12 THEN 1 ELSE 0 END) * 31
         |                      + pos * 17) % 13 - 6) * 150) AS s,
         |             CAST(count(x) AS BIGINT) AS n
         |      FROM c GROUP BY 1, 2, 3),
         |sd AS (SELECT unnest([10, 11, 12]) AS score_d),
         |ref AS (SELECT sd.score_d, label, pos, sum(s) AS s, sum(n) AS n
         |        FROM r, sd WHERE r.d >= sd.score_d - 5 AND r.d <= sd.score_d - 1
         |        GROUP BY 1, 2, 3),
         |live AS (SELECT sd.score_d, label, pos, s, n
         |         FROM r, sd WHERE r.d = sd.score_d),
         |j AS (SELECT coalesce(ref.score_d, live.score_d) AS score_d,
         |             coalesce(ref.label, live.label) AS label,
         |             ref.s AS sr, live.s AS sl, ref.n AS nr_c, live.n AS nl_c
         |      FROM ref FULL OUTER JOIN live
         |        ON ref.score_d = live.score_d AND ref.label = live.label
         |       AND ref.pos = live.pos)
         |SELECT CAST(DATE '2023-12-31' + CAST(score_d AS INTEGER) AS DATE)
         |         AS score_day,
         |       label, CAST(max(nr_c) AS BIGINT) AS n_ref,
         |       CAST(max(nl_c) AS BIGINT) AS n_live,
         |       CASE WHEN sum(sr * sr) > 0 AND sum(sl * sl) > 0
         |            THEN CAST(sum(sr * sl) AS DOUBLE)
         |               / (sqrt(CAST(sum(sr * sr) AS DOUBLE))
         |                  * sqrt(CAST(sum(sl * sl) AS DOUBLE)))
         |       END AS centroid_cos
         |FROM j GROUP BY 1, 2""".stripMargin)),

    QueryDef("q459_bloom_point_lookup", (s, d) => {
      // the EQUALITY complement of the q454 min/max manifest
      // (Warehouse.writeBloomManifest / readPrunedIn): in a
      // hash-partitioned layout every file's min/max spans the whole key
      // domain — the stats manifest keeps ALL files for a point lookup —
      // yet each key lives in exactly one file, which is what a per-file
      // Bloom filter (Bloom 1970; the parquet/Delta bloom idea as one
      // sidecar read) proves. CTAS lineitem hashed 16 ways on orderkey
      // with the bloom sidecar (distributed build: per-file m from
      // footer row counts, seed-chained xxhash64 positions, bit_or
      // word combine), then answer the "fetch these 3 orders" batch
      // lookup through readPrunedIn — files whose filters prove every
      // probe key absent are dropped BEFORE Spark lists them; false
      // positives only ever KEEP a file, so the plain IN filter is the
      // identity oracle. The pruning decision itself (kept < total in a
      // hash layout where min/max keeps all) is ManifestSpec-pinned.
      val wh = Scratch.warehouse("q459", d, s, Seq("li_hash"))
      wh.writeSwap("li_hash", table(s, d, "lineitem").select(
        col("l_orderkey").cast("long").as("okey"),
        col("l_quantity").cast("long").as("qty"),
        col("l_returnflag").as("flag"))
        .repartition(16, col("okey")),
        bloomCols = Seq("okey"))
      wh.readPrunedIn("li_hash", "okey", Seq(1L, 32L, 33L))
        .groupBy(col("okey"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
    }, Some(
      """SELECT CAST(l_orderkey AS BIGINT) AS okey,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE CAST(l_orderkey AS BIGINT) IN (1, 32, 33)
        |GROUP BY 1""".stripMargin)),

    QueryDef("q461_stream_drift_alerts", (s, d) => {
      // monitor-as-a-stream: the stored-baseline drift loop (q448) with a
      // STREAM maintaining the live side and a fleet scorer reading both
      // sides from storage. Baseline cents registers frozen batch-side
      // (days < Jan 15); the stream sum-combines per-(day, cents)
      // registers through the aggStream bridge (AvailableNow over the
      // events table); then ONE grouped job scores every streamed day
      // against the stored baseline via ksFromRegistersByGroup — the
      // baseline is broadcast once at register grain, never rescanned
      // per day (a driver loop of ksFromRegisters calls would launch G
      // jobs and G baseline scans). Day 20 carries a planted +50000-cent
      // shift (complete separation: baseline max cents is 49002), so its
      // KS saturates at d_ppm = 1e6 while honest days read the
      // n_b~330-vs-n_a~4668 noise floor (observed 42k-68k ppm at
      // sf0.01, value-inspected: 7/7 honest days quiet, day 20 alone
      // alerted at exactly 1e6) — the 500000 threshold has >7x headroom
      // below and 2x above.
      import graft.streaming.EventsStream
      import graft.functions.QuantileSketch
      import graft.pipeline.Inference
      val wh = Scratch.warehouse("q461", d, s, Seq("alert_base", "alert_regs"))
      Scratch.resetCheckpoint(wh, "alert_regs")
      def centsOf(df: DataFrame): DataFrame = df
        .filter(col("value").isNotNull)
        .select(col("ts").cast("date").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .withColumn("cents", col("cents") +
          when(col("day") === lit("2024-01-20").cast("date"), 50000L)
            .otherwise(0L))
      wh.writeSwap("alert_base", QuantileSketch.qsRegisters(
        centsOf(events(s, d))
          .filter(col("day") < lit("2024-01-15").cast("date")),
        Nil, col("cents")))
      EventsStream.aggStream(EventsStream.readEvents(s, d), wh, "alert_regs",
        Seq("day", "qs_value"), Seq("qs_weight" -> "sum")) { batch =>
        centsOf(batch)
          .filter(col("day") >= lit("2024-01-15").cast("date"))
          .groupBy(col("day"), col("cents").as("qs_value"))
          .agg(count(lit(1)).as("qs_weight"))
      }.awaitTermination()
      val scored = Inference.ksFromRegistersByGroup(
        wh.read("alert_regs")
          .filter(col("day") >= lit("2024-01-15").cast("date") &&
            col("day") <= lit("2024-01-22").cast("date")),
        wh.read("alert_base"), Seq("day"))
      scored.withColumn("alerted", col("d_ppm") >= 500000L)
    }, Some(
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT)
        |           + CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |                       = DATE '2024-01-20'
        |                  THEN 50000 ELSE 0 END AS c
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS w FROM e
        |      WHERE day < DATE '2024-01-15' GROUP BY 1),
        |l AS (SELECT day, c AS v, CAST(count(*) AS BIGINT) AS w FROM e
        |      WHERE day >= DATE '2024-01-15' AND day <= DATE '2024-01-22'
        |      GROUP BY 1, 2),
        |u AS (SELECT day, v, CAST(sum(wa) AS BIGINT) AS ca,
        |             CAST(sum(wb) AS BIGINT) AS cb
        |      FROM (SELECT day, v, 0 AS wa, w AS wb FROM l
        |            UNION ALL
        |            SELECT dd.day, b.v, b.w, 0
        |            FROM b CROSS JOIN (SELECT DISTINCT day FROM l) dd) t
        |      GROUP BY 1, 2),
        |s AS (SELECT day,
        |             sum(ca) OVER (PARTITION BY day ORDER BY v) AS cum_a,
        |             sum(cb) OVER (PARTITION BY day ORDER BY v) AS cum_b,
        |             sum(ca) OVER (PARTITION BY day) AS n_a,
        |             sum(cb) OVER (PARTITION BY day) AS n_b
        |      FROM u),
        |g AS (SELECT day, CAST(n_a AS BIGINT) AS n_a,
        |             CAST(n_b AS BIGINT) AS n_b,
        |             CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
        |                          - CAST(cum_b AS HUGEINT) * n_a)) AS BIGINT)
        |               AS d_num,
        |             CAST((CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
        |                               - CAST(cum_b AS HUGEINT) * n_a))
        |                        AS HUGEINT) * 1000000)
        |                  // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS d_ppm
        |      FROM s GROUP BY day, n_a, n_b)
        |SELECT day, n_a, n_b, d_num, d_ppm, d_ppm >= 500000 AS alerted
        |FROM g""".stripMargin)),

    QueryDef("q462_td_registers", (s, d) => {
      // the FIFTH stored-baseline scorer law: triangular discrimination
      // (Inference.tdFromRegisters — Vincze / Le Cam distance, Topsoe
      // 2000's Δ), the BOUNDED symmetric companion of q456's chi-square:
      // same squared-deviation shape, mixture-mass denominator, so the
      // statistic lives in [0, 2e6] ppm regardless of sample sizes and a
      // near-empty category can contribute at most its own relative
      // mass — the law to alert ON A SCALE where chi-square alerts on
      // significance. Dollar-bucket registers, baseline window vs
      // rest-of-month; the planted branch reroutes the >= $50 tail
      // (~37% of mass) to a NEW category 999 — the "new failure code
      // absorbing traffic" shape. Observed at sf0.01: honest null
      // 58318 ppm (the K=293-bucket multinomial noise floor at
      // n=6682/3318) vs planted 737845 ppm, 12.7x — value-inspected;
      // both inside the [0, 2e6] bound by construction.
      import graft.functions.QuantileSketch
      import graft.pipeline.Inference
      val ev = events(s, d)
        .filter(col("value").isNotNull)
        .select(col("ts").cast("date").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val split = lit("2024-01-21").cast("date")
      def regs(f: DataFrame => DataFrame, v: Column) =
        QuantileSketch.qsRegisters(f(ev), Nil, v)
      val bucket = call_function("div", col("cents"), lit(100L))
      val base = regs(_.filter(col("day") < split), bucket)
        .pinLazy() // feeds both branches' scorers
      def branch(tag: String, live: Column) =
        Inference.tdFromRegisters(base, regs(_.filter(col("day") >= split), live))
          .withColumn("branch", lit(tag))
      branch("null", bucket)
        .unionByName(branch("planted",
          when(col("cents") >= 5000L, lit(999L)).otherwise(bucket)))
    }, Some(
      """WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |           FROM events WHERE value IS NOT NULL),
        |a AS (SELECT c // 100 AS v, CAST(count(*) AS BIGINT) AS w FROM e
        |      WHERE day < DATE '2024-01-21' GROUP BY 1),
        |bn AS (SELECT c // 100 AS v, CAST(count(*) AS BIGINT) AS w FROM e
        |       WHERE day >= DATE '2024-01-21' GROUP BY 1),
        |bp AS (SELECT CASE WHEN c >= 5000 THEN 999 ELSE c // 100 END AS v,
        |              CAST(count(*) AS BIGINT) AS w
        |       FROM e WHERE day >= DATE '2024-01-21' GROUP BY 1),
        |un AS (SELECT v, CAST(sum(ca) AS BIGINT) AS ca,
        |              CAST(sum(cb) AS BIGINT) AS cb
        |       FROM (SELECT v, w AS ca, 0 AS cb FROM a
        |             UNION ALL SELECT v, 0, w FROM bn) t
        |       GROUP BY 1 HAVING sum(ca) + sum(cb) > 0),
        |up AS (SELECT v, CAST(sum(ca) AS BIGINT) AS ca,
        |              CAST(sum(cb) AS BIGINT) AS cb
        |       FROM (SELECT v, w AS ca, 0 AS cb FROM a
        |             UNION ALL SELECT v, 0, w FROM bp) t
        |       GROUP BY 1 HAVING sum(ca) + sum(cb) > 0),
        |sn AS (SELECT CAST(count(*) AS BIGINT) AS n_cats,
        |              CAST(sum(ca) AS BIGINT) AS n_a,
        |              CAST(sum(cb) AS BIGINT) AS n_b FROM un),
        |sp AS (SELECT CAST(count(*) AS BIGINT) AS n_cats,
        |              CAST(sum(ca) AS BIGINT) AS n_a,
        |              CAST(sum(cb) AS BIGINT) AS n_b FROM up),
        |gn AS (SELECT 'null' AS branch, sn.n_cats, sn.n_a, sn.n_b,
        |              CAST(sum(
        |                ((CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
        |                 * (CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
        |                 * 1000000)
        |                // (CAST(n_a AS HUGEINT) * n_b
        |                   * (CAST(ca AS HUGEINT) * n_b
        |                      + CAST(cb AS HUGEINT) * n_a))) AS BIGINT)
        |                AS td_ppm
        |       FROM un, sn GROUP BY 1, 2, 3, 4),
        |gp AS (SELECT 'planted', sp.n_cats, sp.n_a, sp.n_b,
        |              CAST(sum(
        |                ((CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
        |                 * (CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
        |                 * 1000000)
        |                // (CAST(n_a AS HUGEINT) * n_b
        |                   * (CAST(ca AS HUGEINT) * n_b
        |                      + CAST(cb AS HUGEINT) * n_a))) AS BIGINT)
        |       FROM up, sp GROUP BY 1, 2, 3, 4)
        |SELECT * FROM gn UNION ALL SELECT * FROM gp""".stripMargin)),

    QueryDef("q463_drift_panel", (s, d) => {
      // the nightly dashboard row: ALL FIVE register laws (KS / W1 / TVD
      // / chi2 / TD) for every scored day against ONE stored baseline,
      // from a SINGLE union-densified rollup and ONE cumulative window
      // pass per day (Inference.driftPanelFromRegisters — five scorer
      // calls would densify and window the same day x bucket registers
      // five times; each panel column is spec-pinned to equal its
      // standalone scorer). Dollar-bucket registers, baseline days < 15,
      // scored days 15-22; day 20 carries a planted +3000-cent shift
      // (+30 buckets against a p50 = $35 distribution — most mass
      // displaced). Observed at sf0.01, day 20 vs the 7 honest days
      // (value-inspected; every law reads its MAX at the planted day):
      // d_ppm 447729 vs 40k-65k (6.9x), w1_micro 34.2e6 (~34 buckets,
      // the planted 30 + noise) vs 2.4-5.8e6 (5.9x), tv_ppm 543037 vs
      // 275-332k (1.6x), chi2_milli 670568 vs 236-377k (1.8x), td_ppm
      // 810147 vs 284-388k (2.1x) — the categorical laws sit on the
      // high n_b~350 small-sample noise floor, the ordered laws see
      // the shift essentially unattenuated.
      import graft.functions.QuantileSketch
      import graft.pipeline.Inference
      val ev = events(s, d)
        .filter(col("value").isNotNull)
        .select(col("ts").cast("date").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .withColumn("cents", col("cents") +
          when(col("day") === lit("2024-01-20").cast("date"), 3000L)
            .otherwise(0L))
      val bucket = call_function("div", col("cents"), lit(100L))
      val base = QuantileSketch.qsRegisters(
        ev.filter(col("day") < lit("2024-01-15").cast("date")), Nil, bucket)
      val live = QuantileSketch.qsRegisters(
        ev.filter(col("day") >= lit("2024-01-15").cast("date") &&
          col("day") <= lit("2024-01-22").cast("date")), Seq("day"), bucket)
      Inference.driftPanelFromRegisters(live, base, Seq("day"))
    }, Some(
      """WITH e AS (
        |  SELECT day, (c + CASE WHEN day = DATE '2024-01-20'
        |                        THEN 3000 ELSE 0 END) // 100 AS v
        |  FROM (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |        FROM events WHERE value IS NOT NULL)),
        |b AS (SELECT v, CAST(count(*) AS BIGINT) AS w FROM e
        |      WHERE day < DATE '2024-01-15' GROUP BY 1),
        |l AS (SELECT day, v, CAST(count(*) AS BIGINT) AS w FROM e
        |      WHERE day >= DATE '2024-01-15' AND day <= DATE '2024-01-22'
        |      GROUP BY 1, 2),
        |u AS (SELECT day, v, CAST(sum(wa) AS BIGINT) AS ca,
        |             CAST(sum(wb) AS BIGINT) AS cb
        |      FROM (SELECT day, v, 0 AS wa, w AS wb FROM l
        |            UNION ALL
        |            SELECT dd.day, b.v, b.w, 0
        |            FROM b CROSS JOIN (SELECT DISTINCT day FROM l) dd) t
        |      GROUP BY 1, 2 HAVING sum(wa) + sum(wb) > 0),
        |w AS (SELECT day, v, ca, cb,
        |             sum(ca) OVER (PARTITION BY day ORDER BY v) AS cum_a,
        |             sum(cb) OVER (PARTITION BY day ORDER BY v) AS cum_b,
        |             lead(v) OVER (PARTITION BY day ORDER BY v) AS nv,
        |             sum(ca) OVER (PARTITION BY day) AS n_a,
        |             sum(cb) OVER (PARTITION BY day) AS n_b,
        |             count(*) OVER (PARTITION BY day) AS n_cats
        |      FROM u)
        |SELECT day, CAST(n_cats AS BIGINT) AS n_cats,
        |       CAST(n_cats - 1 AS BIGINT) AS dof,
        |       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |       CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
        |                    - CAST(cum_b AS HUGEINT) * n_a)) AS BIGINT) AS d_num,
        |       CAST((CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
        |                         - CAST(cum_b AS HUGEINT) * n_a)) AS HUGEINT)
        |             * 1000000)
        |            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS d_ppm,
        |       CAST((sum(abs(CAST(cum_a AS HUGEINT) * n_b
        |                     - CAST(cum_b AS HUGEINT) * n_a)
        |                 * coalesce(nv - v, 0)) * 1000000)
        |            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS w1_micro,
        |       CAST((sum(abs(CAST(ca AS HUGEINT) * n_b
        |                     - CAST(cb AS HUGEINT) * n_a)) * 1000000)
        |            // (2 * CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS tv_ppm,
        |       CAST(sum(
        |         ((CAST(ca AS HUGEINT)*(n_a+n_b) - CAST(n_a AS HUGEINT)*(ca+cb))
        |          *(CAST(ca AS HUGEINT)*(n_a+n_b) - CAST(n_a AS HUGEINT)*(ca+cb))
        |          * 1000)
        |         // (CAST(n_a+n_b AS HUGEINT) * n_a * (ca+cb))
        |       + ((CAST(cb AS HUGEINT)*(n_a+n_b) - CAST(n_b AS HUGEINT)*(ca+cb))
        |          *(CAST(cb AS HUGEINT)*(n_a+n_b) - CAST(n_b AS HUGEINT)*(ca+cb))
        |          * 1000)
        |         // (CAST(n_a+n_b AS HUGEINT) * n_b * (ca+cb))) AS BIGINT)
        |         AS chi2_milli,
        |       CAST(sum(
        |         ((CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
        |          * (CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
        |          * 1000000)
        |         // (CAST(n_a AS HUGEINT) * n_b
        |            * (CAST(ca AS HUGEINT) * n_b + CAST(cb AS HUGEINT) * n_a)))
        |         AS BIGINT) AS td_ppm
        |FROM w GROUP BY day, n_cats, n_a, n_b""".stripMargin)),

    QueryDef("q460_string_prefix_read", (s, d) => {
      // string data skipping end-to-end (the v2 manifest's BINARY
      // bounds): CTAS part range-clustered by brand with string footer
      // stats in the sidecar (unsigned byte-wise bounds — the order
      // UTF8String, parquet stats, and binary-collated SQL engines
      // share; bounds past 32 bytes truncate the Iceberg way, lower cut
      // / upper incremented), then answer a brand-family prefix read
      // through readPrunedPrefix — the manifest range is
      // [prefix, next-prefix), the row predicate the exact startsWith,
      // and the plain LIKE aggregate is the identity oracle. Prefix
      // 'Brand#2' matches Brand#2 and Brand#20-29 (a leading-key family,
      // the partition-by-prefix shape of brand/language/URL-host
      // layouts at 100 TB). Money rides exact cents.
      val wh = Scratch.warehouse("q460", d, s, Seq("part_brand"))
      wh.writeSwap("part_brand", table(s, d, "part").select(
        col("p_brand").as("brand"),
        floor(col("p_retailprice") * 100 + 0.5).cast("long").as("price_cents"))
        .repartitionByRange(8, col("brand")).sortWithinPartitions("brand"),
        statsCols = Seq("brand"))
      wh.readPrunedPrefix("part_brand", "brand", "Brand#2")
        .groupBy(col("brand"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("price_cents")).as("sum_price_cents"))
    }, Some(
      """SELECT p_brand AS brand, CAST(count(*) AS BIGINT) AS n_parts,
        |       CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
        |            AS BIGINT) AS sum_price_cents
        |FROM part
        |WHERE p_brand LIKE 'Brand#2%'
        |GROUP BY 1""".stripMargin)),

    QueryDef("q464_window_range_read", (s, d) => {
      // BOTH scan-pruning axes composed over the rolling-monitor layout
      // (readPeriodRangePruned + the incremental manifest refresh): a
      // per-(day, cents) register table lives in the period-partition
      // layout with a value-stats sidecar; growth lands days 21-22 as
      // partition slices (overwritePeriods — manifest goes structurally
      // stale, the safe state), refreshStatsManifest re-arms at O(new
      // files) (prior entries reused VERBATIM, only the new days' footers
      // read — ManifestSpec-pinned (1,4)-shape), and the window+range
      // question ("days 15-22, cents $10-$99.99") then prunes by
      // DIRECTORY first (days 1-14 contribute zero I/O, not even a
      // listing) and by FILE bounds inside the window. The plain window
      // filter is the identity oracle.
      val wh = Scratch.warehouse("q464", d, s, Seq("roll"))
      val regs = events(s, d)
        .filter(col("value").isNotNull)
        .groupBy(col("ts").cast("date").cast("string").as("p"),
          floor(col("value") * 100 + 0.5).cast("long").as("qs_value"))
        .agg(count(lit(1)).as("qs_weight"))
      wh.writeSwap("roll",
        regs.filter(col("p") <= "2024-01-20")
          .repartitionByRange(32, col("p"), col("qs_value"))
          .sortWithinPartitions("p", "qs_value"),
        partitionBy = Seq("p"), statsCols = Seq("qs_value"))
      wh.overwritePeriods("roll",
        regs.filter(col("p") >= "2024-01-21" && col("p") <= "2024-01-22"),
        "p", Seq("2024-01-21", "2024-01-22"))
      wh.refreshStatsManifest("roll")
      // the window+range read goes through the MODEL layer's declared-
      // predicate ref (VERDICT r13 #5): the consumer model declares its
      // dependency read is bounded and the materializer routes through
      // readPeriodRangePruned — same rows as ref("roll").filter(...),
      // with the directory+file skipping a post-scan filter can never
      // get (RegistrySpec pins the kept file set via inputFiles).
      locally {
        import graft.engine.{Model, RefPeriod, RefRange, Registry, ViewMat}
        val reg = new Registry(s, wh)
        reg.register(Model("roll_window", Seq("roll"), ViewMat, ctx =>
          ctx.ref("roll", Seq(RefPeriod("2024-01-15", "2024-01-22"),
              RefRange("qs_value", 1000L, 9999L)))
            .agg(count(lit(1)).as("n_registers"),
              sum(col("qs_weight")).as("total_weight"),
              min(col("qs_value")).as("min_v"),
              max(col("qs_value")).as("max_v"))))
        reg.run()
        reg.relation("roll_window")
      }
    }, Some(
      """WITH r AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
        |         CAST(count(*) AS BIGINT) AS w
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_registers,
        |       CAST(sum(w) AS BIGINT) AS total_weight,
        |       CAST(min(v) AS BIGINT) AS min_v, CAST(max(v) AS BIGINT) AS max_v
        |FROM r
        |WHERE day >= DATE '2024-01-15' AND day <= DATE '2024-01-22'
        |  AND v >= 1000 AND v <= 9999""".stripMargin)),

    QueryDef("q465_kmv_sample", (s, d) => {
      // the mergeable uniform sample (Sketches.kmvRegisters — KMV,
      // Bar-Yossef et al. 2002): the 8 smallest md5 keys per language
      // over distinct doc ids ARE a uniform 8-sample without replacement,
      // and unlike a reservoir the register table merges across shards /
      // days by bag-union + re-take-k (the spec-pinned bottom-k law) —
      // the deterministic, engine-portable "give me a representative
      // sample per slice" a corpus pipeline runs at 100 TB without a
      // global shuffle of raw rows (two-level bottom-k: per-partition
      // partials, then a register-bounded re-take). The oracle replays
      // the identical md5 order in DuckDB.
      import graft.functions.Sketches
      Sketches.kmvRegisters(table(s, d, "documents"), Seq("lang"),
        col("doc_id"), 8)
    }, Some(
      """WITH d AS (SELECT DISTINCT lang,
        |                  CAST(doc_id AS BIGINT) AS id FROM documents),
        |h AS (SELECT lang, md5(CAST(id AS VARCHAR)) AS kmv_key,
        |             CAST(id AS VARCHAR) AS kmv_id FROM d),
        |r AS (SELECT lang, kmv_key, kmv_id,
        |             row_number() OVER (PARTITION BY lang
        |                                ORDER BY kmv_key, kmv_id) AS rn
        |      FROM h)
        |SELECT lang, kmv_key, kmv_id FROM r WHERE rn <= 8""".stripMargin)),

    QueryDef("q466_kmv_distinct", (s, d) => {
      // the KMV distinct-count estimator (Beyer et al. 2007's (k-1)/U(k))
      // beside HLL: same register table as the sample, k-bounded state,
      // and the estimate derives in EXACT integers from the kth key's
      // 15-hex prefix — (k-1) * 16^15 div kth_num — so the oracle
      // replays it digit for digit (DuckDB parses the prefix via
      // CAST('0x..' AS BIGINT); the Spark conv() parity is spec-anchored
      // on a pinned md5 value). Per returnflag over lineitem orderkeys at
      // k=256, exact distinct joined alongside: observed at sf0.01 est
      // 10865/10823/11022 vs exact 11012/11062/11058 (flags A/N/R) —
      // -1.3%/-2.2%/-0.3%, inside the 1/sqrt(k-2) ~ 6.3% envelope,
      // value-inspected. Groups under k read exact by the exhaustive
      // branch.
      import graft.functions.Sketches
      val li = table(s, d, "lineitem").select(
        col("l_returnflag").as("flag"), col("l_orderkey").cast("long").as("okey"))
      val est = Sketches.kmvDistinctEstimate(
        Sketches.kmvRegisters(li, Seq("flag"), col("okey"), 256),
        Seq("flag"), 256)
      val exact = li.groupBy(col("flag"))
        .agg(countDistinct(col("okey")).as("exact_distinct"))
      est.join(broadcast(exact), Seq("flag"))
    }, Some(
      """WITH d AS (SELECT DISTINCT l_returnflag AS flag,
        |                  CAST(l_orderkey AS BIGINT) AS id FROM lineitem),
        |h AS (SELECT flag, md5(CAST(id AS VARCHAR)) AS key FROM d),
        |r AS (SELECT flag, key,
        |             row_number() OVER (PARTITION BY flag ORDER BY key) AS rn
        |      FROM h),
        |k AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_regs,
        |             max(key) AS kth
        |      FROM r WHERE rn <= 256 GROUP BY 1),
        |e AS (SELECT flag, n_regs,
        |             CAST(concat('0x', substr(kth, 1, 15)) AS BIGINT) AS kth_num
        |      FROM k),
        |x AS (SELECT flag, CAST(count(*) AS BIGINT) AS exact_distinct
        |      FROM d GROUP BY 1)
        |SELECT e.flag, e.n_regs, e.kth_num,
        |       CASE WHEN e.n_regs < 256 THEN e.n_regs
        |            ELSE CAST((CAST(255 AS HUGEINT) * 1152921504606846976)
        |                      // e.kth_num AS BIGINT) END AS est_distinct,
        |       x.exact_distinct
        |FROM e JOIN x ON e.flag = x.flag""".stripMargin)),

    QueryDef("q467_stream_kmv_sample", (s, d) => {
      // the STREAMING uniform sample (EventsStream.kmvSampleStream): each
      // micro-batch's per-event-type bottom-8 KMV registers merge into
      // the stored sample by the exact re-take-k law — k-bounded state
      // by construction, and stream == batch is an IDENTITY (the merge
      // law is exact), so the whole-table replay is the oracle, not an
      // approximation check. Re-take-k is idempotent (unioning rows
      // already sampled changes nothing), so unlike the sum-combiner
      // bridge a crash replay double-counts nothing — the streaming
      // sample is effectively exactly-once without a batch-id ledger.
      import graft.streaming.EventsStream
      val wh = Scratch.warehouse("q467", d, s, Seq("type_sample"))
      Scratch.resetCheckpoint(wh, "type_sample")
      EventsStream.kmvSampleStream(
        EventsStream.readEvents(s, d).filter(col("user_id").isNotNull),
        wh, "type_sample", Seq("event_type"), col("user_id"), 8)
        .awaitTermination()
      wh.read("type_sample")
    }, Some(
      """WITH d AS (SELECT DISTINCT event_type,
        |                  CAST(user_id AS BIGINT) AS id FROM events
        |           WHERE user_id IS NOT NULL),
        |h AS (SELECT event_type, md5(CAST(id AS VARCHAR)) AS kmv_key,
        |             CAST(id AS VARCHAR) AS kmv_id FROM d),
        |r AS (SELECT event_type, kmv_key, kmv_id,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY kmv_key, kmv_id) AS rn
        |      FROM h)
        |SELECT event_type, kmv_key, kmv_id FROM r WHERE rn <= 8""".stripMargin)),

    QueryDef("q468_kmv_jaccard", (s, d) => {
      // audience overlap WITHOUT raw-set intersection (Sketches.
      // kmvJaccard — the set operations of Beyer et al. 2007): the
      // bottom-k keys of the UNION are computable from the two register
      // tables alone (the merge law), and within that uniform union
      // sample the both-sides membership fraction estimates
      // |A n B| / |A u B| — two k-bounded sketches answer the overlap
      // question raw sets would answer with a full shuffle of both.
      // Urgent vs low-priority buyer custkey sets at k=256, exact
      // Jaccard alongside: observed at sf0.01 est 808593 ppm (207 of
      // the 256-key union sample in both sketches) vs exact 755449
      // (union 1468, overlap 1109) — +7.0%, ~2.6 sigma of the
      // sqrt(J(1-J)/k) ~ 2.7% binomial envelope; the draw is
      // deterministic (md5), so this is the one fixed realization,
      // value-inspected.
      import graft.functions.Sketches
      val o = table(s, d, "orders").select(
        col("o_orderpriority").as("pr"), col("o_custkey").cast("long").as("ck"))
      def regs(p: String) =
        Sketches.kmvRegisters(o.filter(col("pr") === p), Nil, col("ck"), 256)
      val est = Sketches.kmvJaccard(regs("1-URGENT"), regs("5-LOW"), 256)
      val flags = o.filter(col("pr").isin("1-URGENT", "5-LOW"))
        .groupBy(col("ck"))
        .agg(max(when(col("pr") === "1-URGENT", 1L).otherwise(0L)).as("in_a"),
          max(when(col("pr") === "5-LOW", 1L).otherwise(0L)).as("in_b"))
      val exact = flags.agg(
        count(lit(1)).as("exact_union"),
        sum(when(col("in_a") === 1L && col("in_b") === 1L, 1L).otherwise(0L))
          .as("exact_overlap"))
        .withColumn("exact_j_ppm", call_function("div",
          col("exact_overlap").cast("decimal(38,0)") * lit(1000000L),
          col("exact_union").cast("decimal(38,0)")).cast("long"))
      est.crossJoin(exact)
    }, Some(
      """WITH o AS (SELECT o_orderpriority AS pr,
        |                  CAST(o_custkey AS BIGINT) AS ck FROM orders),
        |a AS (SELECT DISTINCT ck FROM o WHERE pr = '1-URGENT'),
        |b AS (SELECT DISTINCT ck FROM o WHERE pr = '5-LOW'),
        |ra AS (SELECT key FROM (
        |         SELECT md5(CAST(ck AS VARCHAR)) AS key,
        |                row_number() OVER (ORDER BY md5(CAST(ck AS VARCHAR)))
        |                  AS rn
        |         FROM a) t WHERE rn <= 256),
        |rb AS (SELECT key FROM (
        |         SELECT md5(CAST(ck AS VARCHAR)) AS key,
        |                row_number() OVER (ORDER BY md5(CAST(ck AS VARCHAR)))
        |                  AS rn
        |         FROM b) t WHERE rn <= 256),
        |uk AS (SELECT DISTINCT key FROM (SELECT key FROM ra
        |                                 UNION ALL SELECT key FROM rb) t),
        |us AS (SELECT key FROM (
        |         SELECT key, row_number() OVER (ORDER BY key) AS rn FROM uk) t
        |       WHERE rn <= 256),
        |ov AS (SELECT CAST(count(*) AS BIGINT) AS n_overlap
        |       FROM us JOIN ra USING (key) JOIN rb USING (key)),
        |un AS (SELECT CAST(count(*) AS BIGINT) AS n_union FROM us),
        |fl AS (SELECT ck,
        |              max(CASE WHEN pr = '1-URGENT' THEN 1 ELSE 0 END) AS ia,
        |              max(CASE WHEN pr = '5-LOW' THEN 1 ELSE 0 END) AS ib
        |       FROM o WHERE pr IN ('1-URGENT', '5-LOW') GROUP BY 1),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_union,
        |              CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
        |                   AS BIGINT) AS exact_overlap
        |       FROM fl)
        |SELECT un.n_union, ov.n_overlap,
        |       CAST((CAST(ov.n_overlap AS HUGEINT) * 1000000)
        |            // un.n_union AS BIGINT) AS j_ppm,
        |       ex.exact_union, ex.exact_overlap,
        |       CAST((CAST(ex.exact_overlap AS HUGEINT) * 1000000)
        |            // ex.exact_union AS BIGINT) AS exact_j_ppm
        |FROM un, ov, ex""".stripMargin)),

    QueryDef("q469_kmv_overlap_matrix", (s, d) => {
      // the ALL-PAIRS overlap matrix (Sketches.kmvJaccardMatrix): five
      // buyer audiences (order priorities), every unordered pair's
      // Jaccard from the five k=256 register tables in ONE job — the
      // per-pair union samples share a (pair, key, side) rollup of at
      // most G*(G-1)*k rows, so N raw sets never shuffle and cost is
      // independent of what the sketches summarize (N^2 raw-set
      // intersections is exactly the job that dies first at 100 TB).
      // Exact Jaccard per pair joined alongside from one self-join of
      // the distinct (priority, custkey) rollup; spec pins every matrix
      // cell == the standalone two-sketch kmvJaccard.
      import graft.functions.Sketches
      val o = table(s, d, "orders").select(
        col("o_orderpriority").as("pr"),
        col("o_custkey").cast("long").as("ck"))
      val est = Sketches.kmvJaccardMatrix(
        Sketches.kmvRegisters(o, Seq("pr"), col("ck"), 256), "pr", 256)
      val pres = o.distinct().pinLazy() // pair join + counts
      val cnt = pres.groupBy(col("pr")).agg(count(lit(1)).as("n"))
      val ov = pres.as("x").join(pres.as("y"),
          col("x.ck") === col("y.ck") && col("x.pr") < col("y.pr"))
        .groupBy(col("x.pr").as("g1"), col("y.pr").as("g2"))
        .agg(count(lit(1)).as("exact_overlap"))
      est
        .join(broadcast(cnt.withColumnRenamed("pr", "g1")
          .withColumnRenamed("n", "n1")), Seq("g1"))
        .join(broadcast(cnt.withColumnRenamed("pr", "g2")
          .withColumnRenamed("n", "n2")), Seq("g2"))
        .join(broadcast(ov), Seq("g1", "g2"), "left")
        .withColumn("exact_overlap", coalesce(col("exact_overlap"), lit(0L)))
        .withColumn("exact_union", col("n1") + col("n2") - col("exact_overlap"))
        .withColumn("exact_j_ppm", call_function("div",
          col("exact_overlap").cast("decimal(38,0)") * lit(1000000L),
          col("exact_union").cast("decimal(38,0)")).cast("long"))
        .drop("n1", "n2")
    }, Some(
      """WITH o AS (SELECT DISTINCT o_orderpriority AS pr,
        |                  CAST(o_custkey AS BIGINT) AS ck FROM orders),
        |h AS (SELECT pr, md5(CAST(ck AS VARCHAR)) AS key FROM o),
        |r AS (SELECT pr, key,
        |             row_number() OVER (PARTITION BY pr ORDER BY key) AS rn
        |      FROM h),
        |s AS (SELECT pr, key FROM r WHERE rn <= 256),
        |p AS (SELECT a.pr AS g1, b.pr AS g2
        |      FROM (SELECT DISTINCT pr FROM o) a,
        |           (SELECT DISTINCT pr FROM o) b
        |      WHERE a.pr < b.pr),
        |e AS (SELECT p.g1, p.g2, s.key,
        |             max(CASE WHEN s.pr = p.g1 THEN 1 ELSE 0 END) AS in1,
        |             max(CASE WHEN s.pr = p.g2 THEN 1 ELSE 0 END) AS in2
        |      FROM p JOIN s ON s.pr = p.g1 OR s.pr = p.g2
        |      GROUP BY 1, 2, 3),
        |w AS (SELECT g1, g2, key, in1, in2,
        |             row_number() OVER (PARTITION BY g1, g2 ORDER BY key)
        |               AS rn
        |      FROM e),
        |m AS (SELECT g1, g2, CAST(count(*) AS BIGINT) AS n_union,
        |             CAST(sum(in1 * in2) AS BIGINT) AS n_overlap
        |      FROM w WHERE rn <= 256 GROUP BY 1, 2),
        |cnt AS (SELECT pr, CAST(count(*) AS BIGINT) AS n FROM o GROUP BY 1),
        |ov AS (SELECT a.pr AS g1, b.pr AS g2,
        |              CAST(count(*) AS BIGINT) AS ex_ov
        |       FROM o a JOIN o b ON a.ck = b.ck AND a.pr < b.pr
        |       GROUP BY 1, 2)
        |SELECT m.g1, m.g2, m.n_union, m.n_overlap,
        |       CAST((CAST(m.n_overlap AS HUGEINT) * 1000000)
        |            // m.n_union AS BIGINT) AS j_ppm,
        |       CAST(coalesce(ov.ex_ov, 0) AS BIGINT) AS exact_overlap,
        |       CAST(c1.n + c2.n - coalesce(ov.ex_ov, 0) AS BIGINT)
        |         AS exact_union,
        |       CAST((CAST(coalesce(ov.ex_ov, 0) AS HUGEINT) * 1000000)
        |            // (c1.n + c2.n - coalesce(ov.ex_ov, 0)) AS BIGINT)
        |         AS exact_j_ppm
        |FROM m JOIN cnt c1 ON c1.pr = m.g1
        |       JOIN cnt c2 ON c2.pr = m.g2
        |       LEFT JOIN ov ON ov.g1 = m.g1 AND ov.g2 = m.g2""".stripMargin)),

    QueryDef("q470_rolling_kmv_sample", (s, d) => {
      // the ROLLING uniform sample — KMV composed with the period
      // layout: per-day bottom-8 user registers live one period dir per
      // day; "a representative sample of the trailing week" is
      // kmvMerge over readPeriodRange — the window's dirs alone are
      // listed and read (eviction = the directory never touched,
      // admission = one day's partition), and the merge law makes the
      // result EXACTLY the bottom-8 of the window's distinct events, so
      // the whole-window replay is the identity oracle. Three successive
      // windows slide the sample one day at a time — event ids are
      // window-specific (unlike user ids, whose weekly-active set is
      // stable: an early draft sampled users and all three windows
      // returned the SAME 8 — true, but blind to a window-read bug),
      // so the sliding windows visibly exchange sample members:
      // observed 12 distinct keys across the three 8-member windows at
      // sf0.01 (each slide exchanges ~2 members), value-inspected.
      import graft.functions.Sketches
      val wh = Scratch.warehouse("q470", d, s, Seq("day_sample"))
      val ev = events(s, d)
        .select(col("ts").cast("date").cast("string").as("p"), col("event_id"))
      wh.writeSwap("day_sample",
        Sketches.kmvRegisters(ev, Seq("p"), col("event_id"), 8),
        partitionBy = Seq("p"))
      Seq("2024-01-20", "2024-01-21", "2024-01-22").map { end =>
        val start = java.time.LocalDate.parse(end).minusDays(6).toString
        Sketches.kmvMerge(
          wh.readPeriodRange("day_sample", start, end), Nil, 8)
          .withColumn("window_end", lit(end).cast("date"))
      }.reduce(_ unionByName _)
    }, Some(
      """WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |                  CAST(event_id AS BIGINT) AS id FROM events),
        |w AS (SELECT * FROM (VALUES (DATE '2024-01-20'),
        |                            (DATE '2024-01-21'),
        |                            (DATE '2024-01-22')) t(we)),
        |d AS (SELECT DISTINCT w.we, e.id
        |      FROM e JOIN w ON e.day >= w.we - 6 AND e.day <= w.we),
        |h AS (SELECT we, md5(CAST(id AS VARCHAR)) AS kmv_key,
        |             CAST(id AS VARCHAR) AS kmv_id FROM d),
        |r AS (SELECT we, kmv_key, kmv_id,
        |             row_number() OVER (PARTITION BY we
        |                                ORDER BY kmv_key, kmv_id) AS rn
        |      FROM h)
        |SELECT we AS window_end, kmv_key, kmv_id FROM r WHERE rn <= 8"""
        .stripMargin))
  )
}
