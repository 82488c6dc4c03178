package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{BloomPrune, EventAnalytics, GenericTests}
import graft.sources.Sources
import graft.sources.Sources.{events, table}

/** Round-9 late additions: format interchange (ORC), runtime bloom join
  * pruning, multi-touch attribution, session path mining, Benford DQ
  * profiling, join-skew diagnosis, and contrastive negative mining — each
  * with a value-exact DuckDB oracle (integer `div` arithmetic and string
  * digit extraction everywhere a float could drift).
  */
object ExtensionQueries extends QuerySet {

  /** Quantized-int embedding vector (shared with PipelineQueries' oracles:
    * round-half-up to 1e-3, the QuantizeDoubles recipe).
    */
  private val qvecSql =
    "list_transform(CAST(embedding AS DOUBLE[]), e -> CAST(floor(e * 1000 + 0.5) AS BIGINT))"

  /** One-iteration Lloyd's chain per PQ sub-block, the q98 oracle recipe
    * instantiated on a sliced vector relation `b<X>` (suffix X): seed from
    * the 4 smallest ids, assign, exact-rational centroid update with
    * empty-cluster fallback, final assignment = the block's PQ code.
    */
  private def pqBlockSql(x: String): String =
    s"""init$x AS (SELECT CAST(row_number() OVER (ORDER BY id ASC) - 1 AS INTEGER) AS j,
       |                 v AS c, CAST(1 AS BIGINT) AS den
       |          FROM (SELECT id, v FROM b$x ORDER BY id ASC LIMIT 4)),
       |d1$x AS (SELECT b.id, b.v, i.j,
       |               CAST(list_sum(list_transform(list_zip(b.v, i.c),
       |                      p -> (i.den*p[1] - p[2]) * (i.den*p[1] - p[2]))) AS DOUBLE)
       |               / CAST(i.den*i.den AS DOUBLE) AS d
       |        FROM b$x b, init$x i),
       |a1$x AS (SELECT id, v, j FROM (
       |          SELECT *, row_number() OVER (PARTITION BY id ORDER BY d ASC, j ASC) AS rn
       |          FROM d1$x) t WHERE rn = 1),
       |upd$x AS (SELECT j, pos, sum(x) AS s, count(*) AS cnt
       |         FROM (SELECT j, unnest(generate_series(1, len(v))) AS pos,
       |                      unnest(v) AS x FROM a1$x) t
       |         GROUP BY 1, 2),
       |c2$x AS (SELECT j, list(s ORDER BY pos ASC) AS c,
       |               CAST(max(cnt) AS BIGINT) AS den FROM upd$x GROUP BY j),
       |cf$x AS (SELECT i.j, coalesce(c2.c, i.c) AS c, coalesce(c2.den, i.den) AS den
       |        FROM init$x i LEFT JOIN c2$x c2 USING (j)),
       |d2$x AS (SELECT b.id, f.j,
       |               CAST(list_sum(list_transform(list_zip(b.v, f.c),
       |                      p -> (f.den*p[1] - p[2]) * (f.den*p[1] - p[2]))) AS DOUBLE)
       |               / CAST(f.den*f.den AS DOUBLE) AS d
       |        FROM b$x b, cf$x f),
       |code$x AS (SELECT id, j AS code FROM (
       |            SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY d ASC, j ASC) AS rn
       |            FROM d2$x) t WHERE rn = 1)""".stripMargin

  private val pqPrefixSql =
    s"""WITH e AS (SELECT CAST(vec_id AS BIGINT) AS id, $qvecSql AS v FROM embeddings),
       |b0 AS (SELECT id, v[1:32] AS v FROM e),
       |b1 AS (SELECT id, v[33:64] AS v FROM e),
       |${pqBlockSql("0")},
       |${pqBlockSql("1")}""".stripMargin

  val all: Seq[QueryDef] = Seq(

    QueryDef("q192_orc_roundtrip", (s, d) => {
      // ORC interchange: parquet -> ORC (zstd) -> read back -> roll-up.
      // The oracle computes the same roll-up from the SOURCE parquet, so a
      // hash match proves the ORC write/read preserved every row, the
      // microsecond timestamps, and the float payloads bit-exactly.
      val root = Scratch.warehouse("q192", d, s, Nil).root
      val src = events(s, d).select(col("event_id").cast("long").as("event_id"),
        col("ts"), col("user_id").cast("long").as("user_id"),
        col("event_type"), col("value"))
      Sources.writeOrc(src, s"$root/events_orc")
      Sources.orc(s, s"$root/events_orc")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("sum_event_id"),
          sum(col("user_id")).as("sum_user_id"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          max(col("ts")).as("max_ts"))
    }, Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(event_id) AS BIGINT) AS sum_event_id,
        |       CAST(sum(user_id) AS BIGINT) AS sum_user_id,
        |       min("value") AS min_value, max("value") AS max_value,
        |       max(ts) AS max_ts
        |FROM events GROUP BY 1""".stripMargin)),

    QueryDef("q193_bloom_semi_join", (s, d) => {
      // bloom-prefiltered semi join: high-value orders (~4% of keys) prune
      // the lineitem scan BEFORE its shuffle. The bloom has no false
      // negatives, so the result is EXACTLY the plain semi join the oracle
      // runs — the prefilter is invisible to correctness, visible only to
      // shuffle bytes (ExtensionsSpec pins the superset/pruning behavior).
      val hot = table(s, d, "orders")
        .filter(col("o_totalprice") > 480000.0)
        .select(col("o_orderkey"))
      BloomPrune.semiJoinWithBloom(
        table(s, d, "lineitem"), hot, "l_orderkey", "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
    }, Some(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 480000)
        |GROUP BY 1""".stripMargin)),

    QueryDef("q194_attribution", (s, d) =>
      // multi-touch attribution: purchases credit the view/click/signup
      // touches of the prior 3 days — first-touch, last-touch, and exact
      // integer-milli linear credit per touch type
      EventAnalytics.attribution(events(s, d), conversionType = "purchase",
        touchTypes = Seq("view", "click", "signup"), lookbackDays = 3),
      Some(
        """WITH convs AS (
          |  SELECT user_id, event_id AS conv_id, ts AS conv_ts
          |  FROM events WHERE event_type = 'purchase'),
          |t AS (
          |  SELECT e.event_type AS touch, e.ts, e.event_id, c.conv_id
          |  FROM events e JOIN convs c ON e.user_id = c.user_id
          |   AND e.ts < c.conv_ts AND e.ts >= c.conv_ts - INTERVAL 3 DAY
          |  WHERE e.event_type IN ('view', 'click', 'signup')),
          |w AS (
          |  SELECT touch, conv_id,
          |         row_number() OVER (PARTITION BY conv_id ORDER BY ts, event_id) AS rf,
          |         row_number() OVER (PARTITION BY conv_id ORDER BY ts DESC, event_id DESC) AS rl,
          |         count(*) OVER (PARTITION BY conv_id) AS total
          |  FROM t),
          |c AS (
          |  SELECT conv_id, touch, count(*) AS cnt, max(total) AS tot,
          |         max(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS isf,
          |         max(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS isl
          |  FROM w GROUP BY 1, 2)
          |SELECT touch AS event_type, CAST(sum(isf) AS BIGINT) AS first_touch,
          |       CAST(sum(isl) AS BIGINT) AS last_touch,
          |       CAST(sum(cnt * 1000 // tot) AS BIGINT) AS linear_milli
          |FROM c GROUP BY 1""".stripMargin)),

    QueryDef("q195_session_paths", (s, d) =>
      // top-20 frequent session paths: 30-min inactivity sessionization,
      // first 5 event types as the path string, deterministic
      // (count desc, path) ordering -> TakeOrdered, no global sort
      EventAnalytics.sessionPaths(events(s, d), gapMinutes = 30,
        maxSteps = 5, topK = 20),
      Some(
        """WITH g AS (
          |  SELECT user_id, event_id, event_type, ts,
          |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
          |                (PARTITION BY user_id ORDER BY ts, event_id)
          |              > 30 * 60000000 THEN 1
          |              WHEN lag(ts) OVER
          |                (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
          |              ELSE 0 END AS new_sess
          |  FROM events),
          |se AS (
          |  SELECT *, sum(new_sess) OVER
          |           (PARTITION BY user_id ORDER BY ts, event_id
          |            ROWS UNBOUNDED PRECEDING) AS sess
          |  FROM g),
          |st AS (
          |  SELECT *, row_number() OVER
          |           (PARTITION BY user_id, sess ORDER BY ts, event_id) AS step
          |  FROM se),
          |p AS (
          |  SELECT user_id, sess,
          |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
          |  FROM st WHERE step <= 5 GROUP BY 1, 2)
          |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
          |FROM p GROUP BY 1
          |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin)),

    QueryDef("q196_benford_profile", (s, d) =>
      // Benford first-digit DQ profile over order totals: digit from the
      // DECIMAL cent count's string form, frequencies as integer-div ppm,
      // expectation from fixed public constants — no libm in the hash path
      GenericTests.benfordProfile(table(s, d, "orders"), col("o_totalprice")),
      Some(
        """WITH cents AS (
          |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(20,0)) AS c
          |  FROM orders),
          |g AS (
          |  SELECT substr(CAST(c AS VARCHAR), 1, 1) AS digit, count(*) AS n
          |  FROM cents WHERE c > 0 GROUP BY 1)
          |SELECT digit, CAST(n AS BIGINT) AS n,
          |       CAST(n * 1000000 // sum(n) OVER () AS BIGINT) AS observed_ppm,
          |       CAST(CASE digit WHEN '1' THEN 301029 WHEN '2' THEN 176091
          |                       WHEN '3' THEN 124938 WHEN '4' THEN 96910
          |                       WHEN '5' THEN 79181  WHEN '6' THEN 66946
          |                       WHEN '7' THEN 57991  WHEN '8' THEN 51152
          |                       WHEN '9' THEN 45757  ELSE 0 END AS BIGINT)
          |         AS expected_ppm
          |FROM g""".stripMargin)),

    QueryDef("q197_skew_diagnose", (s, d) =>
      // join-key skew report for lineitem.l_orderkey: the pre-flight check
      // for saltedJoin/AQE decisions — one row of exact integers from the
      // count HISTOGRAM (single-partition window over distinct count
      // values only, raise-guarded)
      graft.engine.Skew.diagnose(table(s, d, "lineitem"), Seq("l_orderkey")),
      Some(
        """WITH c AS (SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1),
          |h AS (SELECT cnt, count(*) AS k FROM c GROUP BY 1),
          |w AS (
          |  SELECT cnt, k,
          |         COALESCE(sum(k) OVER (ORDER BY cnt DESC
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS kb,
          |         sum(k) OVER () AS nk, sum(cnt * k) OVER () AS nr,
          |         max(cnt) OVER () AS mx
          |  FROM h)
          |SELECT CAST(max(nr) AS BIGINT) AS n_rows, CAST(max(nk) AS BIGINT) AS n_keys,
          |       CAST(max(mx) AS BIGINT) AS max_key_rows,
          |       CAST(sum(GREATEST(0, LEAST(k, (nk + 99) // 100 - kb)) * cnt) AS BIGINT)
          |         AS top1pct_rows,
          |       CAST((max(mx) * max(nk) + max(nr) - 1) // max(nr) AS BIGINT)
          |         AS recommended_salt
          |FROM w""".stripMargin)),

    QueryDef("q198_negative_pairs", (s, d) => {
      // contrastive negative mining: 2 deterministic hash-chosen negatives
      // per document, excluding exact-duplicate positives — bucket-join
      // bounded (never N^2), rerun- and engine-identical
      val docs = table(s, d, "documents")
      val fp = docs.select(col("doc_id").cast("long").as("id"),
        graft.pipeline.TextAnalysis.fingerprint(col("text")).as("f"))
      val pos = fp.as("a").join(fp.as("b"),
        col("a.f") === col("b.f") && col("a.id") < col("b.id"))
        .select(col("a.id").as("pa"), col("b.id").as("pb"))
      graft.pipeline.Sampling.negativePairs(docs, "doc_id", pos, "pa", "pb",
        kNeg = 2, nBuckets = 8, salt = "n9")
        .withColumnRenamed("rank", "neg_rank")
    }, Some(
      """WITH fp AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |         md5(lower(regexp_replace(text, ' +', ' ', 'g'))) AS f
        |  FROM documents),
        |pos AS (
        |  SELECT a.id AS pa, b.id AS pb
        |  FROM fp a JOIN fp b ON a.f = b.f AND a.id < b.id),
        |c AS (
        |  SELECT id AS negative_id,
        |         ('0x' || substr(md5(CAST(id AS VARCHAR) || '|' || 'n9'), 1, 8))::BIGINT
        |           % 1000000 % 8 AS b
        |  FROM fp),
        |a AS (
        |  SELECT id AS anchor_id,
        |         ('0x' || substr(md5(CAST(id AS VARCHAR) || '|' || 'n9p'), 1, 8))::BIGINT
        |           % 1000000 % 8 AS b
        |  FROM fp),
        |p AS (
        |  SELECT anchor_id, negative_id,
        |         ('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || '~' ||
        |            CAST(negative_id AS VARCHAR) || '|' || 'n9'), 1, 8))::BIGINT
        |           % 1000000 AS h
        |  FROM a JOIN c USING (b)
        |  WHERE anchor_id <> negative_id
        |    AND NOT EXISTS (SELECT 1 FROM pos
        |          WHERE pos.pa = LEAST(anchor_id, negative_id)
        |            AND pos.pb = GREATEST(anchor_id, negative_id))),
        |r AS (
        |  SELECT anchor_id, negative_id,
        |         row_number() OVER (PARTITION BY anchor_id ORDER BY h, negative_id) AS rk
        |  FROM p)
        |SELECT anchor_id, negative_id, CAST(rk AS BIGINT) AS neg_rank
        |FROM r WHERE rk <= 2""".stripMargin)),

    QueryDef("q199_pq_codes", (s, d) => {
      // product quantization encode: per 32-dim sub-block, nearest
      // codebook centroid (exact-rational Lloyd's, 1 round) — the m-byte
      // code that stands in for the float vector at 100 TB. Codebooks are
      // broadcast literals; the encode is ONE scan, zero shuffles.
      val emb = table(s, d, "embeddings")
      val books = graft.pipeline.Similarity.pqCodebooks(
        emb, "vec_id", "embedding", blockLen = 32, nBlocks = 2, k = 4, iters = 1)
      graft.pipeline.Similarity.pqCodes(emb, "vec_id", "embedding", 32, books)
        .select(col("id").as("vec_id"), col("code_0"), col("code_1"))
    }, Some(
      s"""$pqPrefixSql
         |SELECT c0.id AS vec_id, CAST(c0.code AS INTEGER) AS code_0,
         |       CAST(c1.code AS INTEGER) AS code_1
         |FROM code0 c0 JOIN code1 c1 USING (id)""".stripMargin)),

    QueryDef("q200_pq_adc_topk", (s, d) => {
      // asymmetric-distance top-5 over the PQ codes: per query the
      // distance TABLE (4 centroids x 2 blocks) is built once on the
      // driver and the corpus scan does two array lookups per row — the
      // query-time shape that makes PQ the billion-vector ANN seat
      val emb = table(s, d, "embeddings")
      val books = graft.pipeline.Similarity.pqCodebooks(
        emb, "vec_id", "embedding", blockLen = 32, nBlocks = 2, k = 4, iters = 1)
      graft.pipeline.Similarity.pqTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 3), blockLen = 32, books, topK = 5)
    }, Some(
      s"""$pqPrefixSql,
         |q0 AS (SELECT id AS query_id, v FROM b0 WHERE id < 3),
         |q1 AS (SELECT id AS query_id, v FROM b1 WHERE id < 3),
         |dt0 AS (SELECT q.query_id, f.j,
         |               CAST(list_sum(list_transform(list_zip(q.v, f.c),
         |                      p -> (f.den*p[1] - p[2]) * (f.den*p[1] - p[2]))) AS DOUBLE)
         |               / CAST(f.den*f.den AS DOUBLE) AS d
         |        FROM q0 q, cf0 f),
         |dt1 AS (SELECT q.query_id, f.j,
         |               CAST(list_sum(list_transform(list_zip(q.v, f.c),
         |                      p -> (f.den*p[1] - p[2]) * (f.den*p[1] - p[2]))) AS DOUBLE)
         |               / CAST(f.den*f.den AS DOUBLE) AS d
         |        FROM q1 q, cf1 f),
         |adc AS (SELECT d0.query_id, c0.id, d0.d + d1.d AS dist
         |        FROM code0 c0 JOIN code1 c1 USING (id)
         |          JOIN dt0 d0 ON d0.j = c0.code
         |          JOIN dt1 d1 ON d1.j = c1.code AND d1.query_id = d0.query_id
         |        WHERE c0.id <> d0.query_id)
         |SELECT query_id, id AS neighbor_id, CAST(rn AS BIGINT) AS adc_rank
         |FROM (SELECT query_id, id,
         |        row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, id ASC) AS rn
         |      FROM adc) t
         |WHERE rn <= 5""".stripMargin)),

    QueryDef("q272_ivfpq_topk", (s, d) => {
      // IVF-PQ, the composed billion-vector recipe: a 4-cell coarse
      // quantizer decides WHICH rows get scored (each query probes its 2
      // nearest cells — the partition-pruning handle at 100 TB), the q199
      // PQ codes decide WHAT is stored and computed per row (two table
      // lookups). Index = ONE scan emitting (id, cell, code_0, code_1);
      // the oracle replays coarse training, probe selection, and ADC in
      // SQL with the same exact-rational arithmetic.
      val emb = table(s, d, "embeddings")
      val books = graft.pipeline.Similarity.pqCodebooks(
        emb, "vec_id", "embedding", blockLen = 32, nBlocks = 2, k = 4, iters = 1)
      val coarse = graft.pipeline.Clustering.kMeansCodebook(
        emb, "vec_id", "embedding", k = 4, iters = 1)
      graft.pipeline.Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 3), blockLen = 32, books, coarse,
        nProbe = 2, topK = 5)
    }, Some(
      s"""$pqPrefixSql,
         |bC AS (SELECT id, v FROM e),
         |${pqBlockSql("C")},
         |qC AS (SELECT id AS query_id, v FROM bC WHERE id < 3),
         |q0 AS (SELECT id AS query_id, v FROM b0 WHERE id < 3),
         |q1 AS (SELECT id AS query_id, v FROM b1 WHERE id < 3),
         |dt0 AS (SELECT q.query_id, f.j,
         |               CAST(list_sum(list_transform(list_zip(q.v, f.c),
         |                      p -> (f.den*p[1] - p[2]) * (f.den*p[1] - p[2]))) AS DOUBLE)
         |               / CAST(f.den*f.den AS DOUBLE) AS d
         |        FROM q0 q, cf0 f),
         |dt1 AS (SELECT q.query_id, f.j,
         |               CAST(list_sum(list_transform(list_zip(q.v, f.c),
         |                      p -> (f.den*p[1] - p[2]) * (f.den*p[1] - p[2]))) AS DOUBLE)
         |               / CAST(f.den*f.den AS DOUBLE) AS d
         |        FROM q1 q, cf1 f),
         |dtc AS (SELECT q.query_id, f.j,
         |               CAST(list_sum(list_transform(list_zip(q.v, f.c),
         |                      p -> (f.den*p[1] - p[2]) * (f.den*p[1] - p[2]))) AS DOUBLE)
         |               / CAST(f.den*f.den AS DOUBLE) AS d
         |        FROM qC q, cfC f),
         |prb AS (SELECT query_id, j AS cell FROM (
         |          SELECT query_id, j,
         |                 row_number() OVER (PARTITION BY query_id
         |                   ORDER BY d ASC, j ASC) AS rn
         |          FROM dtc) t WHERE rn <= 2),
         |adc AS (SELECT p.query_id, c0.id, cc.code AS cell, d0.d + d1.d AS dist
         |        FROM codeC cc JOIN code0 c0 USING (id) JOIN code1 c1 USING (id)
         |          JOIN prb p ON p.cell = cc.code
         |          JOIN dt0 d0 ON d0.j = c0.code AND d0.query_id = p.query_id
         |          JOIN dt1 d1 ON d1.j = c1.code AND d1.query_id = p.query_id
         |        WHERE c0.id <> p.query_id)
         |SELECT query_id, id AS neighbor_id, CAST(cell AS BIGINT) AS cell,
         |       CAST(rn AS BIGINT) AS adc_rank
         |FROM (SELECT query_id, id, cell,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY dist ASC, id ASC) AS rn
         |      FROM adc) t
         |WHERE rn <= 5""".stripMargin)),

    QueryDef("q201_matryoshka_recall", (s, d) => {
      // matryoshka-truncation evaluation: recall@5 of brute-force search
      // on the FIRST 16 dims vs the full 64-dim ground truth — the
      // dimension-pruning decision (store 4x less, rerank later) measured
      // the same way q173 gates the LSH index
      val emb = table(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 50)
      def trunc(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("embedding", slice(col("embedding"), 1, 16))
      graft.pipeline.Similarity.recallAtK(
        graft.pipeline.Similarity.bruteForceTopK(emb, q, k = 5),
        graft.pipeline.Similarity.bruteForceTopK(trunc(emb), trunc(q), k = 5),
        k = 5)
    }, Some {
      val qv = qvecSql
      val qv16 =
        "list_transform(CAST(embedding[1:16] AS DOUBLE[]), e -> CAST(floor(e * 1000 + 0.5) AS BIGINT))"
      def dot(a: String, b: String) =
        s"CAST(list_sum(list_transform(list_zip($a,$b), p -> p[1]*p[2])) AS DOUBLE)"
      def cos(a: String, b: String) =
        s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
      s"""WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, $qv AS qv, $qv16 AS qv16
         |           FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT CAST(vec_id AS BIGINT) AS neighbor_id, $qv AS cv, $qv16 AS cv16
         |      FROM embeddings),
         |bt AS (SELECT query_id, neighbor_id FROM (
         |         SELECT q.query_id, c.neighbor_id,
         |                row_number() OVER (PARTITION BY q.query_id
         |                  ORDER BY ${cos("q.qv", "c.cv")} DESC, c.neighbor_id ASC) AS rn
         |         FROM c, q WHERE c.neighbor_id <> q.query_id) t WHERE rn <= 5),
         |mt AS (SELECT query_id, neighbor_id FROM (
         |         SELECT q.query_id, c.neighbor_id,
         |                row_number() OVER (PARTITION BY q.query_id
         |                  ORDER BY ${cos("q.qv16", "c.cv16")} DESC, c.neighbor_id ASC) AS rn
         |         FROM c, q WHERE c.neighbor_id <> q.query_id) t WHERE rn <= 5),
         |h AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM bt JOIN mt USING (query_id, neighbor_id) GROUP BY 1)
         |SELECT q.query_id, coalesce(h.n_hits, 0) AS n_hits,
         |       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5 AS recall
         |FROM (SELECT DISTINCT query_id FROM q) q
         |LEFT JOIN h USING (query_id)""".stripMargin
    }),

    QueryDef("q202_compare_relations", (s, d) => {
      // audit-helper compare_relations: the migration gate. The "new"
      // relation is a deterministic perturbation of orders (drop %97
      // keys, redact %89 priorities, add %101 clones under shifted keys) so
      // every status bucket is exercised and the oracle rebuilds b
      // identically
      val o = table(s, d, "orders")
      val b = o.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
        .withColumn("o_orderpriority", when(pmod(col("o_orderkey"), lit(89)) === 0,
          lit("0-REDACTED")).otherwise(col("o_orderpriority")))
        .unionByName(o.filter(pmod(col("o_orderkey"), lit(101)) === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
      graft.operators.GenericTests.compareRelations(o, b, Seq("o_orderkey"))
    }, Some(compareFixtureSql(
      """SELECT status, CAST(count(*) AS BIGINT) AS n_rows
        |FROM cmp GROUP BY 1""".stripMargin))),

    QueryDef("q203_compare_columns", (s, d) => {
      // audit-helper compare_all_columns: per-column mismatch counts over
      // the SAME perturbed fixture — only o_orderpriority should drift
      val o = table(s, d, "orders")
      val b = o.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
        .withColumn("o_orderpriority", when(pmod(col("o_orderkey"), lit(89)) === 0,
          lit("0-REDACTED")).otherwise(col("o_orderpriority")))
        .unionByName(o.filter(pmod(col("o_orderkey"), lit(101)) === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
      graft.operators.GenericTests.compareColumns(o, b, Seq("o_orderkey"))
    }, Some(compareFixtureSql(
      """SELECT f.cn AS column_name,
        |       CAST(sum(CASE WHEN f.ok THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        |       CAST(sum(CASE WHEN f.ok THEN 0 ELSE 1 END) AS BIGINT) AS n_mismatch
        |FROM (SELECT unnest(flags) AS f FROM matched)
        |GROUP BY 1""".stripMargin))),

    QueryDef("q204_seasonal_outliers", (s, d) =>
      // weekly-seasonal robust anomalies: (type, epoch-day mod 7) baseline
      // mean in exact integer cents, residual beyond 3*MAD of its type —
      // the detector a weekly cycle cannot fool. Oracle re-derives the
      // baseline and uses quantile_disc for med/MAD (q112's independent
      // recipe)
      EventAnalytics.seasonalOutliers(events(s, d), k = 3),
      Some(
        """WITH b AS (
          |  SELECT event_id, event_type,
          |         (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS dow,
          |         CAST(floor("value" * 100 + 0.5) AS BIGINT) AS cents
          |  FROM events WHERE "value" IS NOT NULL),
          |m AS (
          |  SELECT event_type, dow,
          |         CAST(sum(cents) // count(*) AS BIGINT) AS mean
          |  FROM b GROUP BY 1, 2),
          |r AS (
          |  SELECT b.event_id, b.event_type, b.dow, b.cents - m.mean AS residual
          |  FROM b JOIN m USING (event_type, dow)),
          |med AS (SELECT event_type, quantile_disc(residual, 0.5) AS med
          |        FROM r GROUP BY 1),
          |dev AS (SELECT r.*, med.med, abs(r.residual - med.med) AS abs_dev
          |        FROM r JOIN med USING (event_type)),
          |mad AS (SELECT event_type, quantile_disc(abs_dev, 0.5) AS mad
          |        FROM dev GROUP BY 1)
          |SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
          |       CAST(dow AS INTEGER) AS dow, CAST(residual AS BIGINT) AS residual,
          |       CAST(med AS BIGINT) AS med, CAST(mad AS BIGINT) AS mad
          |FROM dev JOIN mad USING (event_type) WHERE abs_dev > 3 * mad""".stripMargin)),

    QueryDef("q205_cube_totals", (s, d) =>
      // GROUP BY CUBE: all four grouping sets in ONE expanded-grouping
      // pass (q108's ROLLUP sibling — the cross-tab report shape)
      table(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          grouping_id().as("gid")),
      Some(
        """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_rows,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |       CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid
          |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin))
  )

  /** Shared fixture for the audit-helper comparison oracles: rebuild the
    * perturbed `b` relation, full-outer join to orders on o_orderkey with
    * NULL-safe per-column comparison, expose `cmp` (status per key) and
    * `matched` (per-column ok flags for both-side keys).
    */
  private def compareFixtureSql(tail: String): String = {
    val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority")
    val sameAll = cols.map(c => s"a.$c IS NOT DISTINCT FROM b.$c").mkString(" AND ")
    val flagList = cols.map(c =>
      s"{'cn': '$c', 'ok': a.$c IS NOT DISTINCT FROM b.$c}").mkString(",\n        ")
    s"""WITH b AS (
       |  SELECT * REPLACE (CASE WHEN o_orderkey % 89 = 0 THEN '0-REDACTED'
       |                         ELSE o_orderpriority END AS o_orderpriority)
       |  FROM orders WHERE o_orderkey % 97 <> 0
       |  UNION ALL
       |  SELECT * REPLACE (o_orderkey + 10000000 AS o_orderkey)
       |  FROM orders WHERE o_orderkey % 101 = 0),
       |pair AS (
       |  SELECT a.o_orderkey AS ka, b.o_orderkey AS kb,
       |         ($sameAll) AS same_all,
       |         [$flagList] AS flags
       |  FROM orders a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey),
       |cmp AS (
       |  SELECT CASE WHEN ka IS NULL THEN 'added'
       |              WHEN kb IS NULL THEN 'removed'
       |              WHEN same_all THEN 'identical'
       |              ELSE 'modified' END AS status
       |  FROM pair),
       |matched AS (
       |  SELECT flags FROM pair WHERE ka IS NOT NULL AND kb IS NOT NULL)
       |$tail""".stripMargin
  }
}
