package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Pin.PinOps

/** Embedding similarity search (builder brief): brute-force cosine top-k as
  * the correctness baseline, sign-bit LSH bucketing as the scale path.
  *
  * Determinism note: float summation order is engine-specific, so the
  * oracle-checked variants quantize components to integers (x1000), compute
  * dot/norms in EXACT integer arithmetic, and do a single IEEE double
  * divide+sqrt at the end — bit-identical on any engine. `cosineF` is the
  * production float path (same math, double accumulation in array order).
  *
  * Scale notes (100 TB): brute force is O(Q*N) — fine when the query set is
  * broadcastable; the LSH path turns it into a bucket-equi-join so both sides
  * shuffle-partition by bucket and each bucket scans locally. For real IVF,
  * raise `signBits` so bucket count ~ sqrt(N).
  */
object Similarity {

  /** Quantize a float vector to exact integers: round-half-up(e * scale) —
    * native codegen'd expression (graft.plans.QuantizeDoubles); semantically
    * identical to `transform(vec, e -> floor(e*scale + 0.5))` but without
    * per-element interpreted-lambda cost (HOFs are CodegenFallback), which
    * dominates per-row time when quantizing an embedding corpus.
    */
  def quantize(vec: Column, scale: Int = 1000): Column =
    graft.plans.Expressions.quantizeDoubles(vec, scale)

  /** Exact-integer dot product of two long vectors — native codegen'd
    * expression (graft.plans.LongArrayDot); semantically identical to
    * `aggregate(zip_with(a, b, _*_), 0L, _+_)` but without per-pair lambda
    * interpretation or intermediate array allocation.
    */
  def dotQ(a: Column, b: Column): Column =
    graft.plans.Expressions.longArrayDot(a, b)

  /** Deterministic quantized cosine: exact int dot/norms, one double op. */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") /
      (sqrt(dotQ(a, a).cast("double")) * sqrt(dotQ(b, b).cast("double")))

  /** Production float cosine (double accumulation in array order). */
  def cosineF(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Sign-bit LSH bucket over the first `bits` components: a cheap
    * random-hyperplane sketch (components of a trained embedding are
    * near-orthogonal directions).
    */
  def signBucket(vec: Column, bits: Int): Column =
    // `get` (0-based) returns NULL out of bounds where ANSI `element_at`
    // THROWS — one truncated embedding row must score a 0-bit, not abort
    // the whole job
    (0 until bits).map(i =>
      when(get(vec, lit(i)) >= 0, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Quantized vector + exact squared norm, computed ONCE per row — pairwise
    * operators must never recompute per pair (at N^2 pair volume the
    * per-row prep dominates if it leaks into the join).
    */
  private def prepped(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String, normAs: String): DataFrame = {
    val q = quantize(col(vecCol))
    df.select(col(idCol).cast("long").as(idAs), q.as(vecAs))
      .withColumn(normAs, dotQ(col(vecAs), col(vecAs)))
  }

  /** Cosine from precomputed quantized vectors + squared norms: same math as
    * cosineQ, dot only per pair. A zero-norm side (failed encoder output, or
    * a vector quantized to all zeros) has NO defined cosine — guard it to
    * NULL, which sorts after every real score and fails `>= threshold`
    * filters; the unguarded 0/0 is NaN, which Spark ranks ABOVE all real
    * doubles, putting the degenerate row at rank 1 of every query and
    * pairing it with every doc in its block.
    */
  private def pairScore: Column =
    when(col("qn") > 0 && col("cn") > 0,
      dotQ(col("qv"), col("cv")).cast("double") /
        (sqrt(col("qn").cast("double")) * sqrt(col("cn").cast("double"))))

  /** Brute-force top-k neighbors for `queries` (small, broadcast) against
    * `corpus`. Output: query_id, neighbor_id, score, rank.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = prepped(queries, idCol, vecCol, "query_id", "qv", "qn")
    val c = prepped(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", pairScore)
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Contrastive hard-negative mining: for each anchor, the top-k most
    * cosine-similar vectors carrying a DIFFERENT label — the negatives
    * that actually move an embedding model (a random negative is usually
    * trivially far; the near-but-wrong ones define the decision boundary).
    * Exact/brute variant: anchors broadcast against the corpus, the
    * [[bruteForceTopK]] shape with the label-mismatch predicate applied
    * BEFORE scoring (no wasted dot products on same-label rows). At corpus
    * scale, pre-restrict candidates by [[signBucket]] (the [[lshTopK]]
    * composition) or an [[ivfTopK]] probe and accept recall < 1 — the
    * mining loss is tolerant to missing some hard negatives, not to
    * same-label false negatives, which this filter excludes exactly.
    *
    * Output: anchor_id, neighbor_id, neighbor_label, score, rank.
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(k >= 1 && k <= 1000, s"k: $k")
    val q = anchors.select(col(idCol).cast("long").as("anchor_id"),
        quantize(col(vecCol)).as("qv"), col(labelCol).cast("long").as("__al"))
      .withColumn("qn", dotQ(col("qv"), col("qv")))
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
        quantize(col(vecCol)).as("cv"),
        col(labelCol).cast("long").as("neighbor_label"))
      .withColumn("cn", dotQ(col("cv"), col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_label") =!= col("__al"))
      .withColumn("score", pairScore)
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("neighbor_id"), col("neighbor_label"),
        col("score"), col("rank"))
  }

  /** LSH-bucketed ANN: candidates restricted to the query's sign bucket —
    * the equi-join scale path (recall < 1 by design).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, signBits: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // bucket from the RAW float sign (quantization would shift exact-zero ties)
    val q = queries
      .select(col(idCol).cast("long").as("query_id"), quantize(col(vecCol)).as("qv"),
        signBucket(col(vecCol), signBits).as("bucket"))
      .withColumn("qn", dotQ(col("qv"), col("qv")))
    val c = corpus
      .select(col(idCol).cast("long").as("neighbor_id"), quantize(col(vecCol)).as("cv"),
        signBucket(col(vecCol), signBits).as("bucket"))
      .withColumn("cn", dotQ(col("cv"), col("cv")))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", pairScore)
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas 2003's ±1
    * database-friendly form): compress quantized embeddings to `outDim`
    * dimensions via a deterministic md5-derived sign matrix — the
    * dimensionality-reduction front end that makes downstream ANN/
    * clustering/dedup cheaper at corpus scale while approximately
    * preserving pairwise distances (distortion bounds are the JL lemma's).
    *
    * The sign matrix is built ON THE DRIVER (outDim x inDim literals, the
    * broadcast-constant discipline of the q163 classifier weights) so rows
    * pay ZERO per-row hashing — each output component is one codegen'd
    * [[graft.plans.Expressions.longArrayDot]] against a literal row. Pure
    * narrow map: no shuffle, no UDF, exact integer arithmetic (the
    * quantize-then-integer convention of every embedding op here).
    */
  def randomProjection(df: DataFrame, inDim: Int, outDim: Int,
      salt: String = "jl", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(inDim >= 1 && outDim >= 1, s"inDim=$inDim outDim=$outDim")
    def h8(x: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString, 16)
    val signs: Seq[Seq[Long]] = (0 until outDim).map(j =>
      (0 until inDim).map(i => if (h8(s"$i|$j|$salt") % 2 == 0) 1L else -1L))
    import org.apache.spark.sql.functions.typedLit
    df.select(col(idCol).cast("long").as("vec_id"),
        quantize(col(vecCol)).as("__qv"))
      .select(col("vec_id"), array((0 until outDim).map(j =>
        graft.plans.Expressions.longArrayDot(col("__qv"), typedLit(signs(j)))): _*)
        .as("proj"))
  }

  /** Recall@k of an ANN result against the brute-force ground truth — the
    * evaluation loop every approximate index needs before it replaces the
    * exact path at scale (tune signBits/nProbe until recall clears the
    * bar, THEN deploy). Both inputs are (query_id, neighbor_id, ...) top-k
    * sets ([[bruteForceTopK]] / [[lshTopK]] / [[ivfTopK]] output shape);
    * per query: hits = |approx ∩ exact|, recall = hits / k. Queries the
    * approx index missed entirely still appear (recall 0) via the left
    * join from the exact side's query set. One co-keyed equi-join + two
    * narrow aggregates — evaluation cost is O(k · |queries|), independent
    * of corpus size.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k: $k")
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k).as("recall"))
  }

  /** Dimension-ablation recall sweep (the Matryoshka question — Kusupati
    * et al. 2022, arXiv:2205.13147): for each prefix length in `dims`,
    * the exact recall@k of brute-force cosine over TRUNCATED vectors
    * against the full-dimension ground truth — the measurement that
    * decides how many leading dimensions a 100 TB index can drop before
    * retrieval quality pays (storage and dot-product cost scale linearly
    * in kept dims; this is the quality side of that trade).
    *
    * Per dim: one [[bruteForceTopK]] over sliced vectors (slicing before
    * [[quantize]] equals slicing after — quantization is elementwise),
    * one equi-join against the pinned ground-truth run, one query-keyed
    * rollup. `recall_ppm` is an exact non-negative truncating ratio
    * against the ground truth's ACTUAL row count (corpora smaller than k
    * don't inflate recall). The ground truth is localCheckpoint-pinned —
    * it feeds every dim's join, the shared-subtree discipline.
    *
    * An audit op: run it over a query SAMPLE (queries broadcast, like
    * every brute path here); the per-dim corpus scans are the honest
    * cost, bounded by `dims.size`.
    */
  def dimAblationRecall(corpus: DataFrame, queries: DataFrame, k: Int,
      dims: Seq[Int], idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k: $k")
    require(dims.nonEmpty && dims == dims.sorted && dims.distinct == dims &&
      dims.head >= 1, s"dims must be ascending positive: $dims")
    val full = bruteForceTopK(corpus, queries, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
      .pinLazy()
    val kFull = full.groupBy(col("query_id")).agg(count(lit(1)).as("__kf"))
    dims.map { dp =>
      def trunc(df: DataFrame) =
        df.select(col(idCol), slice(col(vecCol), 1, dp).as(vecCol))
      val t = bruteForceTopK(trunc(corpus), trunc(queries), k, idCol, vecCol)
      val hits = full
        .join(t.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("__h"))
      kFull.join(hits, Seq("query_id"), "left")
        .select(col("query_id"), lit(dp).as("dim"),
          coalesce(col("__h"), lit(0L)).as("n_hits"),
          call_function("div", coalesce(col("__h"), lit(0L)) * 1000000L,
            col("__kf")).as("recall_ppm"))
    }.reduce(_ unionByName _)
  }

  /** Truncated rank-biased overlap (Webber, Moffat & Zobel 2010) between
    * two per-query top-k runs: `sum_{d=1..k} w_d * |A_d ∩ B_d| / d` with
    * the geometric weights `w_d = (1-p) p^(d-1)` — the top-weighted
    * ranking-similarity metric (recall@k says WHETHER the approximate
    * index found the truth; RBO says whether it put it in the same
    * ORDER, counting the top far more than the tail). Truncated form —
    * no extrapolated residual — which is the honest comparison for two
    * k-bounded runs.
    *
    * Engine-exact despite the geometric weights: each `w_d` is rounded
    * to integer MICRO units once, driver-side, and the per-depth term is
    * `w_micro * |∩_d| div d` — integer arithmetic the oracle replays
    * from the same literal table (the q210 EWMA-weights discipline).
    * Queries whose runs never intersect score 0 via the left join from
    * run A's query set.
    *
    * Shape: one (query, doc) equi-join of the runs, a broadcast depth
    * dim (k rows), a (query, depth) rollup, a query rollup — all
    * k-bounded per query, corpus never touched.
    */
  def rboTruncated(runA: DataFrame, runB: DataFrame, k: Int,
      pMilli: Int = 900): DataFrame = {
    require(k >= 1 && k <= 1000, s"k: $k")
    require(pMilli >= 1 && pMilli <= 999, s"pMilli: $pMilli")
    val p = pMilli / 1000.0
    val wMicro = (1 to k)
      .map(d => math.round((1.0 - p) * math.pow(p, d - 1) * 1e6))
    val spark = runA.sparkSession
    import spark.implicits._
    val depths = wMicro.zipWithIndex
      .map { case (w, i) => (i + 1, w) }.toDF("depth", "w_micro")
    val joined = runA
      .select(col("query_id"), col("neighbor_id"), col("rank").as("__ra"))
      .join(runB.select(col("query_id"), col("neighbor_id"),
        col("rank").as("__rb")), Seq("query_id", "neighbor_id"))
    val terms = joined.crossJoin(broadcast(depths))
      .filter(col("__ra") <= col("depth") && col("__rb") <= col("depth"))
      .groupBy(col("query_id"), col("depth"), col("w_micro"))
      .agg(count(lit(1)).as("__i"))
      .groupBy(col("query_id"))
      .agg(sum(call_function("div", col("w_micro") * col("__i"),
        col("depth").cast("long"))).as("rbo_micro"))
    runA.select(col("query_id")).distinct()
      .join(terms, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("rbo_micro"), lit(0L)).as("rbo_micro"))
  }

  /** Intra-list label diversity of per-query top-k results: distinct
    * labels, their share of k, and the EFFECTIVE label count
    * `k^2 / sum(count_l^2)` (the inverse-HHI, in milli) — the
    * recommendation-diversity readout that catches an index whose top-10
    * is ten near-identical items (high relevance, zero discovery). All
    * exact: distinct counts, one ppm division, and the effective count
    * as one division of integer squares.
    *
    * Shape: run joined to the broadcast-fed label relation, one
    * (query, label) rollup, one query rollup — k-bounded per query.
    */
  def labelDiversity(run: DataFrame, labels: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k: $k")
    def dec2(c: Column): Column = c.cast("decimal(38,0)")
    val joined = run.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
      .join(labels.select(col("neighbor_id"), col("label")),
        Seq("neighbor_id"))
    joined.groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("query_id"))
      .agg(sum(col("__c")).as("n_results"),
        count(lit(1)).as("n_labels"),
        sum(dec2(col("__c")) * dec2(col("__c"))).as("__ss"))
      .select(col("query_id"), col("n_results"), col("n_labels"),
        call_function("div", col("n_labels") * 1000000L, col("n_results"))
          .as("label_share_ppm"),
        call_function("div",
          dec2(col("n_results")) * dec2(col("n_results")) * dec2(lit(1000L)),
          col("__ss")).cast("long").as("effective_labels_milli"))
  }

  /** MAP@k and MRR@k against a declared relevance relation: per query,
    * average precision `AP@k = (sum over hit positions d of P@d) /
    * min(k, R)` with `P@d = hits_through_d / d`, and the reciprocal rank
    * of the FIRST hit — the two labeled-relevance retrieval metrics next
    * to recall@k (position-blind) and [[rboTruncated]] (label-blind).
    * Exact micro units with declared truncation points: each
    * `P@d = hit_rank * 1e6 div d`, AP is one further division by
    * `min(k, R)`, MRR is `1e6 div first_rank`; queries with zero hits
    * score 0 via the left join from the run's query set.
    *
    * Shape: one (query, doc) equi-join of the k-bounded run against the
    * relevance relation, one per-query window over <= k hits, two
    * rollups. The relevance relation is the contract: supply it from
    * labels, clicks, or editorial judgments.
    */
  def mapAtK(run: DataFrame, relevant: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k: $k")
    val rel = relevant.select(col("query_id"), col("neighbor_id"))
    val rCounts = rel.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_relevant"))
    val hits = run.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .join(rel, Seq("query_id", "neighbor_id"))
    val byQ = Window.partitionBy(col("query_id")).orderBy(col("rank").asc)
    val scored = hits
      .withColumn("__hr", row_number().over(byQ).cast("long"))
      .withColumn("__p", call_function("div", col("__hr") * 1000000L,
        col("rank").cast("long")))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hits"), sum(col("__p")).as("__sp"),
        min(col("rank").cast("long")).as("__fr"))
    run.select(col("query_id")).distinct()
      .join(broadcast(rCounts), Seq("query_id"), "left")
      .join(scored, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_relevant"), lit(0L)).as("n_relevant"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(col("__sp").isNotNull && coalesce(col("n_relevant"), lit(0L)) > 0L,
          call_function("div", col("__sp"),
            least(lit(k.toLong), col("n_relevant"))))
          .otherwise(lit(0L)).as("ap_micro"),
        when(col("__fr").isNotNull,
          call_function("div", lit(1000000L), col("__fr")))
          .otherwise(lit(0L)).as("mrr_micro"))
  }

  /** Embedding centroid drift between two corpus snapshots: per label,
    * the cosine between snapshot A's and snapshot B's label centroid —
    * the "did the encoder (or the data mix) move under this class?"
    * monitor a re-embedding pipeline checks before trusting a mixed
    * index. Works on SUMS, not means: cosine is scale-invariant, so
    * `cos(sum_A, sum_B) = cos(mean_A, mean_B)` and the whole computation
    * stays in exact integers (quantized components, DECIMAL dot/norm
    * accumulation) with ONE IEEE divide+sqrt at the end — no count
    * divisions to truncate.
    *
    * Shape: both sides explode to (label, pos, component) — a bounded
    * dim-sized fanout — then partial-agg rollups on (label, pos) and an
    * equi-join on (label, pos) feeding a label rollup. Never a vector
    * materialized driver-side; labels present in only one snapshot emit
    * no row (there is nothing to compare).
    */
  def centroidDrift(a: DataFrame, b: DataFrame,
      labelCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def sums(df: DataFrame, sumAs: String, cntAs: String): DataFrame =
      df.filter(col(vecCol).isNotNull)
        .select(col(labelCol).cast("long").as("lbl"),
          col(idCol).cast("long").as("__id"),
          posexplode(quantize(col(vecCol))))
        .groupBy(col("lbl"), col("pos"))
        .agg(sum(col("col")).as(sumAs),
          count(lit(1)).as(cntAs))
    val sa = sums(a, "sa", "__ca")
    val sb = sums(b, "sb", "__cb")
    sa.join(sb, Seq("lbl", "pos"))
      .groupBy(col("lbl").as("label"))
      .agg(
        sum(dec(col("sa")) * dec(col("sb"))).as("__dot"),
        sum(dec(col("sa")) * dec(col("sa"))).as("__na"),
        sum(dec(col("sb")) * dec(col("sb"))).as("__nb"),
        max(col("__ca")).as("n_a"), max(col("__cb")).as("n_b"))
      .select(col("label"), col("n_a"), col("n_b"),
        when(col("__na") > 0 && col("__nb") > 0,
          col("__dot").cast("double") /
            (sqrt(col("__na").cast("double")) *
              sqrt(col("__nb").cast("double")))).as("centroid_cosine"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998):
    * from each query's top-`kCand` relevance candidates, greedily select
    * `kOut` results maximizing
    * `lambda * rel - (1 - lambda) * max_sim_to_already_selected` — the
    * diversified answer list (near-duplicate neighbors stop crowding the
    * top). First pick is pure relevance; ties break on neighbor id.
    *
    * Relevance and pairwise sims are the deterministic quantized cosine;
    * the greedy is `kOut - 1` DataFrame rounds (bounded like the k-core
    * peel), each a candidate x selected max-sim rollup + one per-query
    * WindowGroupLimit pick. The candidate pair-sim relation (per query at
    * most kCand^2 rows) is pinned once and reused by every round.
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, kCand: Int, kOut: Int,
      lambdaMilli: Int = 700, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(kOut >= 1 && kOut <= kCand, s"kOut $kOut vs kCand $kCand")
    require(lambdaMilli >= 0 && lambdaMilli <= 1000, s"lambdaMilli: $lambdaMilli")
    val cands = bruteForceTopK(corpus, queries, kCand, idCol, vecCol)
      .pinLazy()
    val vecs = corpus.select(col(idCol).cast("long").as("nid"),
      quantize(col(vecCol)).as("vv"))
      .withColumn("vn", dotQ(col("vv"), col("vv")))
    val cv = cands.select(col("query_id"), col("neighbor_id"))
      .join(vecs.withColumnRenamed("nid", "neighbor_id"), "neighbor_id")
    val left = cv.select(col("query_id"), col("neighbor_id").as("id_a"),
      col("vv").as("va"), col("vn").as("na"))
    val right = cv.select(col("query_id"), col("neighbor_id").as("id_b"),
      col("vv").as("vb"), col("vn").as("nb"))
    val sims = left.join(right, Seq("query_id"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("query_id"), col("id_a"), col("id_b"),
        when(col("na") > 0 && col("nb") > 0,
          dotQ(col("va"), col("vb")).cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("sim"))
      .pinLazy()
    var selected = cands.filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"),
        lit(1L).as("mmr_rank"), col("score").as("mmr_score"))
    var pool = cands.filter(col("rank") > 1)
      .select(col("query_id"), col("neighbor_id"), col("score"))
    var step = 2
    while (step <= kOut) {
      val selIds = selected.select(col("query_id"), col("neighbor_id").as("id_b"))
      val scored = pool.withColumnRenamed("neighbor_id", "id_a")
        .join(selIds, Seq("query_id"))
        .join(sims, Seq("query_id", "id_a", "id_b"))
        .groupBy(col("query_id"), col("id_a").as("neighbor_id"), col("score"))
        .agg(max(col("sim")).as("ms"))
      val pick = scored
        // integer milli weights, ONE division: `1.0 - 0.7` is
        // 0.30000000000000004 in binary — a lambda written as two double
        // literals cannot hash-match an oracle's `0.3`
        .withColumn("mmr_score",
          (lit(lambdaMilli.toDouble) * col("score") -
            lit((1000 - lambdaMilli).toDouble) * col("ms")) / lit(1000.0))
        .withColumn("__rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("mmr_score").desc, col("neighbor_id").asc)))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("neighbor_id"),
          lit(step.toLong).as("mmr_rank"), col("mmr_score"))
      selected = selected.unionByName(pick)
      pool = pool.join(pick.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      step += 1
    }
    selected
  }

  /** nDCG@k of an approximate ranking against exact ground truth —
    * [[recallAtK]]'s position-aware sibling: a hit at approx rank i earns
    * the discount `round(1e6 / log2(i+1))`, normalized by the ideal DCG
    * (all k positions hit). The discounts are FIXED integer micro
    * constants computed once here (the Benford-constants discipline — no
    * engine's libm in the hash path), so dcg_micro is an exact integer
    * sum and `ndcg_ppm = dcg*1e6 div idcg` exact division. Binary
    * relevance with the exact top-k as the relevant set (the standard ANN
    * evaluation); queries the approx index missed entirely score 0 via
    * the left join. Same O(k · |queries|) shape as recallAtK.
    */
  def ndcgAtK(exact: DataFrame, approx: DataFrame, k: Int,
      rankCol: Option[String] = None): DataFrame = {
    require(k >= 1 && k <= 1000, s"k: $k")
    // Pass rankCol explicitly when the approx frame carries more than one
    // rank-suffixed column (e.g. a passthrough 'rank' plus 'mmr_rank');
    // auto-discovery requires exactly one and fails loudly otherwise —
    // a silent bind-by-column-order would score the wrong ranking.
    val rc = rankCol.getOrElse {
      val cands = approx.columns.filter(_.endsWith("rank"))
      require(cands.length == 1,
        s"ndcgAtK: expected exactly one rank-suffixed column in approx, " +
          s"got [${cands.mkString(",")}] — pass rankCol explicitly")
      cands.head
    }
    val discounts = (1 to k).map(i =>
      i.toLong -> math.round(1e6 / (math.log(i + 1) / math.log(2))))
    val idcg = discounts.map(_._2).sum
    val dCol = discounts.foldLeft(lit(0L)) { case (acc, (i, w)) =>
      when(col("rank") === i, lit(w)).otherwise(acc)
    }
    val ranked = approx.select(col("query_id"), col("neighbor_id"),
      col(rc).as("rank"))
      .filter(col("rank") <= k)
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(ranked, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(sum(dCol).as("dcg_micro"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        expr(s"coalesce(dcg_micro, 0L) * 1000000 div ${idcg}L").as("ndcg_ppm"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of multiple
    * per-query ranked lists — the standard hybrid-retrieval combiner (e.g.
    * lexical BM25 + embedding ANN): each list contributes
    * `1e6 div (rrfK + rank)` in exact integer micro-units, a candidate
    * absent from a list contributes zero, and candidates re-rank by the
    * summed score (id-ascending tie-break). Integer division keeps the
    * fused score hash-comparable across engines — same log-free discipline
    * as q221's lift — while preserving RRF's ordering for rrfK + rank up
    * to 1e6 (ranks are top-k bounded, so exactly).
    *
    * Inputs are (query_id, neighbor_id, rank) top-k relations (the
    * [[bruteForceTopK]] family shape). Shape: a union of k-bounded lists,
    * one (query, neighbor) partial agg, and a WindowGroupLimit top-k —
    * cost O(lists * k * queries), independent of corpus size.
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(lists.size >= 2, s"fusion needs >= 2 ranked lists: ${lists.size}")
    require(k >= 1 && rrfK >= 1, s"k=$k rrfK=$rrfK")
    val contrib = lists
      .map(_.select(col("query_id"), col("neighbor_id"),
        call_function("div", lit(1000000L), lit(rrfK.toLong) + col("rank"))
          .as("c")))
      .reduce(_ unionByName _)
    val fused = contrib.groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("c")).as("rrf_micro"), count(lit(1)).as("n_lists"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("neighbor_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** k-nearest-neighbor majority-vote classification: label each query
    * vector by the plurality label of its `k` nearest corpus neighbors
    * (cosine, quantized-exact), ties broken toward the smaller label — the
    * standard weak-labeler / label-propagation step for corpus curation
    * (spam/domain tags from a small seed set).
    *
    * Composes [[bruteForceTopK]] (exactness baseline; an LSH/IVF list
    * drops in unchanged for the scale path since only the
    * (query_id, neighbor_id) shape is consumed) with the corpus label
    * relation. Shape: the top-k list is k-bounded per query, so the label
    * join and the vote rollup are O(k * queries); the argmax is a
    * WindowGroupLimit over vote groups.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(k >= 1, s"k: $k")
    val topk = bruteForceTopK(corpus, queries, k, idCol, vecCol)
    val labels = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(labelCol).cast("long").as("lbl"))
    val votes = topk.join(labels, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("lbl"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("lbl").asc)
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("lbl").as("predicted_label"), col("votes"))
  }

  /** IVF-style ANN (coarse quantizer + probed inverted lists): the first
    * `nCentroids` corpus vectors stand in for trained centroids (a k-means
    * fit would slot in here unchanged — deterministic for the oracle); every
    * corpus vector is assigned to its nearest centroid, forming one inverted
    * list per cell; each query probes its `nProbe` nearest cells and scores
    * only those lists.
    *
    * Scale: the codebook is broadcast-small BY DEFINITION (nCentroids ~
    * sqrt(N) vectors), so assignment is ZERO-shuffle — the codebook rides a
    * 1-row broadcast, each corpus row scores every centroid inside one
    * projection (array of (neg_score, cent_id) structs) and takes its cells
    * with a local array_sort + slice; no Exchange, no Window over a
    * near-unique key. Candidate scoring is then an equi-join on cell id with
    * the tiny probe side broadcast, so the inverted lists never move.
    * Recall < 1 by design — brute force is the exactness baseline.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nCentroids: Int = 8,
      nProbe: Int = 2, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // deterministic, id-layout-independent centroid choice: the nCentroids
    // lowest-id vectors (ids need not be dense or 0-based; a trained k-means
    // codebook would slot in here unchanged)
    val cent = prepped(corpus, idCol, vecCol, "cent_id", "cv", "cn")
      .orderBy(col("cent_id")).limit(nCentroids)
    val codebook = cent.agg(collect_list(struct(col("cent_id"), col("cv"), col("cn"))).as("cents"))
    def nearestCells(df: DataFrame, idAs: String, limit: Int): DataFrame = {
      val p = prepped(df, idCol, vecCol, idAs, "qv", "qn")
      // ascending struct sort on (neg_score, cent_id) == score DESC, cent ASC
      val scoredCells = transform(col("cents"), c =>
        struct(
          (-(dotQ(col("qv"), c("cv")).cast("double") /
            (sqrt(col("qn").cast("double")) * sqrt(c("cn").cast("double"))))).as("neg_score"),
          c("cent_id").as("cent_id")))
      p.crossJoin(broadcast(codebook))
        .select(col(idAs), col("qv"), col("qn"),
          explode(slice(array_sort(scoredCells), 1, limit)).as("cell"))
        .select(col("cell.cent_id").as("cent_id"), col(idAs), col("qv"), col("qn"))
    }
    val assigned = nearestCells(corpus, "neighbor_id", 1)
      .select(col("cent_id"), col("neighbor_id"), col("qv").as("cv"), col("qn").as("cn"))
    val probes = nearestCells(queries, "query_id", nProbe)
    val scored = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", pairScore)
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Banded sign-LSH near-duplicate pairs — the SCALE path beside the
    * within-block all-pairs verifier [[nearDupPairs]]: the first
    * bandBits*nBands embedding components become a sign sketch, candidates
    * must agree exactly on at least one band (random-hyperplane LSH: each
    * agreeing sign bit is evidence of a small angle), and every candidate is
    * verified with the EXACT quantized cosine. Recall < 1 by design.
    *
    * Scale shape mirrors [[Dedup.simhashPairs]]: the join shuffles on
    * uniform (band, bits) keys — never on a hot block — and cross-band
    * duplicates are suppressed by the first-agreeing-band filter (cheap bit
    * math on sketches the join already carries), not a distinct shuffle.
    */
  def nearDupPairsLsh(emb: DataFrame, threshold: Double, bandBits: Int = 4,
      nBands: Int = 4, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val totalBits = bandBits * nBands
    require(totalBits <= 31, "sketch must fit an int")
    // sign from the RAW float (quantization would shift exact-zero ties);
    // `get` returns NULL (-> 0-bit) where ANSI element_at would throw on a
    // truncated row
    val sketch = (0 until totalBits).map(i =>
      when(get(col("__fv"), lit(i)) >= 0, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)
    val p = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("__fv"),
        quantize(col(vecCol)).as("v"))
      .withColumn("n", dotQ(col("v"), col("v")))
      .withColumn("sketch", sketch)
      .drop("__fv")
    val bandArr = array((0 until nBands).map { t =>
      struct(lit(t).as("band"),
        shiftright(col("sketch"), t * bandBits).bitwiseAND(lit((1 << bandBits) - 1)).as("bits"))
    }: _*)
    val banded = p.select(col("id"), col("v"), col("n"), col("sketch"),
        explode(bandArr).as("b"))
      .select(col("id"), col("v"), col("n"), col("sketch"),
        col("b.band").as("band"), col("b.bits").as("bits"))
    val a = banded.select(col("band"), col("bits"), col("id").as("id_a"),
      col("v").as("qv"), col("n").as("qn"), col("sketch").as("sk_a"))
    val b = banded.select(col("band"), col("bits"), col("id").as("id_b"),
      col("v").as("cv"), col("n").as("cn"), col("sketch").as("sk_b"))
    def bandOf(sk: Column, j: Int): Column =
      shiftright(sk, j * bandBits).bitwiseAND(lit((1 << bandBits) - 1))
    val firstAgreeingBand = (0 until nBands - 1)
      .map(j => (col("band") <= j) || (bandOf(col("sk_a"), j) =!= bandOf(col("sk_b"), j)))
      .reduceOption(_ && _).getOrElse(lit(true))
    a.join(b, Seq("band", "bits"))
      .filter(col("id_a") < col("id_b") && firstAgreeingBand)
      .withColumn("score", pairScore)
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /** Near-duplicate pairs by embedding cosine within a blocking column
    * (label/cluster id): a < b, score >= threshold.
    *
    * This is the VERIFICATION path — within-block all-pairs is O(n²) per
    * block, so a single hot block degenerates. `maxBlockRows` is the guard
    * rail: when set, a cheap pre-flight aggregate bails with the offending
    * blocks before any pair is generated, steering callers to the banded
    * operators (lshTopK / minhashPairs / simhashPairs) that shuffle on
    * uniform band keys instead of the hot block.
    */
  def nearDupPairs(emb: DataFrame, blockCol: String, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBlockRows: Option[Int] = None): DataFrame = {
    maxBlockRows.foreach { cap =>
      val hot = emb.groupBy(col(blockCol)).agg(count(lit(1)).as("n"))
        .filter(col("n") > cap).orderBy(col("n").desc).limit(5).collect()
      if (hot.nonEmpty) throw new IllegalStateException(
        s"nearDupPairs: block(s) exceed maxBlockRows=$cap (" +
          hot.map(r => s"${r.get(0)}=${r.getLong(1)} rows").mkString(", ") +
          ") — within-block all-pairs is O(n^2); use a banded operator " +
          "(lshTopK/minhashPairs/simhashPairs) for these blocks")
    }
    val p = emb.select(col(blockCol), col(idCol).cast("long").as("id"),
        quantize(col(vecCol)).as("v"))
      .withColumn("n", dotQ(col("v"), col("v")))
    val a = p.select(col(blockCol), col("id").as("id_a"), col("v").as("qv"), col("n").as("qn"))
    val b = p.select(col(blockCol), col("id").as("id_b"), col("v").as("cv"), col("n").as("cn"))
    a.join(b, Seq(blockCol))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score", pairScore)
      .filter(col("score") >= threshold)
      .select(col(blockCol), col("id_a"), col("id_b"), col("score"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication
    * by within-cluster cosine pruning. Embeddings are clustered first (the
    * paper uses k-means; any blocking column works — [[Clustering
    * .kMeansAssign]] output, or [[signBucket]] for a model-free split), then
    * ONLY within-cluster pairs are scored — never all-pairs, which is what
    * makes the method viable at corpus scale: pair volume is
    * sum(cluster_size^2), bounded by the clustering, not N^2.
    *
    * Keep rule: a row is dropped iff SOME earlier row (lower id) in its
    * cluster has cosine >= `threshold` to it — dominance by any earlier
    * neighbor, kept or dropped. When near-duplicate similarity is
    * transitive inside the threshold ball (the regime the paper targets:
    * tight semantic-duplicate groups), every group collapses to exactly its
    * earliest member — the paper's "keep one per duplicate group" with
    * min-id as the deterministic, engine-portable representative choice.
    * The paper's centroid-distance representative is the [[Dedup
    * .keepBestInCluster]] composition (pairs -> connectedComponents ->
    * quality rank) when that ordering matters.
    *
    * Emits every input row with its verdict — (blockCol, id, kept) — so
    * both the keep-list (`kept`) and the audit of what was pruned are one
    * filter away; no second scan of the corpus to reconstruct either.
    *
    * Scale shape: [[nearDupPairs]] generates the within-cluster candidates
    * (same hot-cluster guard rail via `maxBlockRows`), the dominated set
    * rolls up to distinct ids with map-side partial aggregation, and the
    * verdict join is one shuffle on id. The dominated side is at most the
    * duplicate count — far smaller than the corpus — so AQE broadcasts it
    * in the common mostly-unique regime.
    */
  def semDeDup(emb: DataFrame, blockCol: String, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBlockRows: Option[Int] = None): DataFrame = {
    val dominated = nearDupPairs(emb, blockCol, threshold, idCol, vecCol, maxBlockRows)
      .groupBy(col("id_b").as("__rm_id")).agg(count(lit(1)).as("__nd"))
    emb.select(col(blockCol), col(idCol).cast("long").as(idCol))
      .join(dominated, col(idCol) === col("__rm_id"), "left")
      .select(col(blockCol), col(idCol), col("__rm_id").isNull.as("kept"))
  }

  // ---- Product quantization (Jégou et al. 2011, "Product quantization
  // for nearest neighbor search") ----

  /** Train PQ codebooks: one exact-rational k-means codebook per
    * contiguous `blockLen`-dim sub-block (Lloyd's via
    * [[Clustering.kMeansCodebook]], smallest-id seeding — deterministic,
    * engine-portable). At corpus scale, train on a
    * [[Sampling.hashSample]] and encode the full corpus with the result —
    * codebook quality needs thousands of vectors, not billions.
    */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      blockLen: Int, nBlocks: Int, k: Int, iters: Int,
      quantScale: Int = 1000): Seq[Seq[Clustering.Centroid]] = {
    require(blockLen >= 1 && nBlocks >= 1, s"blockLen $blockLen nBlocks $nBlocks")
    (0 until nBlocks).map { b =>
      Clustering.kMeansCodebook(
        df.select(col(idCol),
          slice(col(vecCol), b * blockLen + 1, blockLen).as("__blk")),
        idCol, "__blk", k, iters, quantScale)
    }
  }

  /** PQ-encode the corpus: ONE scan emits every sub-block's nearest
    * centroid index as `code_0..code_{nBlocks-1}` — the m-byte code that
    * replaces a 4·dim-byte float vector (the 100 TB memory story: 64-dim
    * floats -> nBlocks codes is a 32x shrink at nBlocks=2, k<=256).
    * Codebooks ride as broadcast literals inside the plan: no join, no
    * shuffle, nothing but the scan. Assignment distance is the same
    * exact-integer rational arithmetic as [[Clustering.kMeansAssign]], so
    * codes are bit-reproducible on any engine/partitioning. Malformed
    * vectors (wrong dim / NULL components) raise rather than silently
    * encoding garbage.
    */
  def pqCodes(df: DataFrame, idCol: String, vecCol: String, blockLen: Int,
      books: Seq[Seq[Clustering.Centroid]],
      quantScale: Int = 1000,
      coarse: Option[Seq[Clustering.Centroid]] = None): DataFrame = {
    val dim = blockLen * books.length
    val malformed = coalesce(
      size(col("__v")) =!= dim || exists(col("__v"), _.isNull), lit(true))
    val base = df.select(col(idCol).cast("long").as("id"),
      quantize(col(vecCol), quantScale).as("__v"))
      .select(col("id"),
        when(malformed, raise_error(concat(
          lit(s"pqCodes: malformed vector (expected $dim non-NULL components) for id "),
          col("id").cast("string")))).otherwise(col("__v")).as("__v"))
    val codeCols = books.zipWithIndex.map { case (cents, b) =>
      Clustering.assignCol(
        slice(col("__v"), b * blockLen + 1, blockLen), cents).as(s"code_$b")
    }
    // the coarse (IVF) cell rides the SAME scan when requested — the
    // whole index (cell + m codes) is one pass, zero shuffles
    val cellCols = coarse.toSeq.map(c =>
      Clustering.assignCol(col("__v"), c).as("cell"))
    base.select(col("id") +: (cellCols ++ codeCols): _*)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: per query, each
    * sub-block's distance to every centroid is computed ONCE on the
    * driver (exact integer numerator, one IEEE division — mirroring the
    * in-plan k-means arithmetic term for term), flattened into one
    * array literal per query, and the corpus scan sums `nBlocks` table
    * lookups per row — no vector arithmetic touches the corpus at query
    * time, which is the entire point of PQ. Ranking ties break on
    * neighbor id; the query set is a bounded driver collect by contract
    * (`maxQueries` raises on abuse).
    *
    * Output: (query_id, neighbor_id, adc_rank), rank 1..topK by
    * approximate distance.
    */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, blockLen: Int, books: Seq[Seq[Clustering.Centroid]],
      topK: Int, quantScale: Int = 1000, maxQueries: Int = 10000): DataFrame = {
    require(topK >= 1, s"topK: $topK")
    val k = books.head.length
    val codes = pqCodes(df, idCol, vecCol, blockLen, books, quantScale)
    val qRows = queries
      .select(col(idCol).cast("long").as("qid"),
        quantize(col(vecCol), quantScale).as("qv"))
      .collect()
    require(qRows.length <= maxQueries,
      s"pqTopK collected ${qRows.length} queries (max $maxQueries) — the " +
        "query side is a bounded probe set by contract")
    val qData = qRows.map { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Long](1).toArray
      require(qv.length == blockLen * books.length,
        s"pqTopK: query $qid has dim ${qv.length}, expected ${blockLen * books.length}")
      val dt = books.zipWithIndex.flatMap { case (cents, b) =>
        cents.map { c =>
          var num = 0L
          var i = 0
          while (i < blockLen) {
            val t = c.den * qv(b * blockLen + i) - c.num(i)
            num += t * t
            i += 1
          }
          num.toDouble / (c.den * c.den).toDouble
        }
      }.toArray
      (qid, dt)
    }.toSeq
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = qData.toDF("query_id", "__dt")
    val dist = books.indices.map(b =>
      element_at(col("__dt"), col(s"code_$b") + lit(b * k) + 1))
      .reduce(_ + _)
    codes.crossJoin(broadcast(qdf))
      .filter(col("id") =!= col("query_id"))
      .withColumn("__dist", dist)
      .withColumn("adc_rank", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("__dist").asc, col("id").asc)))
      .filter(col("adc_rank") <= topK)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("adc_rank").cast("long").as("adc_rank"))
  }

  /** IVF-PQ: the composed billion-vector recipe — a coarse inverted-file
    * cell bounds WHICH rows are scored, PQ codes bound WHAT is stored and
    * computed per row. Index build is ONE corpus scan ([[pqCodes]] with
    * the coarse codebook riding the same pass: `(id, cell, code_0..m)`);
    * at query time each query probes its `nProbe` nearest coarse cells
    * (exact driver-side arithmetic, identical term-for-term to the
    * in-plan [[Clustering.assignCol]]), ships one ADC distance table per
    * probed cell, and the scan scores ONLY rows whose cell is probed —
    * the equi-join on `cell` is exactly the partition-pruning handle a
    * cell-partitioned 100 TB index needs (cells map to partitions; the
    * broadcast probe list prunes file groups before any code is read).
    * Same determinism contract as [[pqTopK]]: exact integer numerators,
    * one IEEE division, ties break on (distance, neighbor id).
    *
    * `coarse` is the full-dimension cell codebook
    * ([[Clustering.kMeansCodebook]]); recall loss comes from both stages
    * (unprobed cells + code quantization) and is measured with
    * [[recallAtK]] like every approximate path here.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, blockLen: Int, books: Seq[Seq[Clustering.Centroid]],
      coarse: Seq[Clustering.Centroid], nProbe: Int, topK: Int,
      quantScale: Int = 1000, maxQueries: Int = 10000): DataFrame = {
    require(topK >= 1, s"topK: $topK")
    require(nProbe >= 1 && nProbe <= coarse.length,
      s"nProbe $nProbe vs ${coarse.length} cells")
    val k = books.head.length
    val dim = blockLen * books.length
    val codes = pqCodes(df, idCol, vecCol, blockLen, books, quantScale,
      coarse = Some(coarse))
    val qRows = queries
      .select(col(idCol).cast("long").as("qid"),
        quantize(col(vecCol), quantScale).as("qv"))
      .collect()
    require(qRows.length <= maxQueries,
      s"ivfPqTopK collected ${qRows.length} queries (max $maxQueries) — the " +
        "query side is a bounded probe set by contract")
    val qData = qRows.toSeq.flatMap { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Long](1).toArray
      require(qv.length == dim,
        s"ivfPqTopK: query $qid has dim ${qv.length}, expected $dim")
      // coarse cell ranking: same exact rational distance as assignCol,
      // ties to the lowest cell index
      val probed = coarse.zipWithIndex.map { case (c, j) =>
        var num = 0L
        var i = 0
        while (i < dim) {
          val t = c.den * qv(i) - c.num(i)
          num += t * t
          i += 1
        }
        (num.toDouble / (c.den * c.den).toDouble, j)
      }.sorted.take(nProbe).map(_._2)
      val dt = books.zipWithIndex.flatMap { case (cents, b) =>
        cents.map { c =>
          var num = 0L
          var i = 0
          while (i < blockLen) {
            val t = c.den * qv(b * blockLen + i) - c.num(i)
            num += t * t
            i += 1
          }
          num.toDouble / (c.den * c.den).toDouble
        }
      }.toArray
      probed.map(cell => (qid, cell, dt))
    }
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = qData.toDF("query_id", "cell", "__dt")
    val dist = books.indices.map(b =>
      element_at(col("__dt"), col(s"code_$b") + lit(b * k) + 1))
      .reduce(_ + _)
    codes.join(broadcast(qdf), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("__dist", dist)
      .withColumn("adc_rank", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("__dist").asc, col("id").asc)))
      .filter(col("adc_rank") <= topK)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("cell").cast("long").as("cell"),
        col("adc_rank").cast("long").as("adc_rank"))
  }

  /** Min-max-calibrated 8-bit scalar quantization (the "SQ8" storage
    * format of vector indexes — 4x smaller than float32 with near-lossless
    * recall, the storage-tier complement of [[pqCodebooks]]' PQ): per
    * dimension, calibrate [min, max] over the corpus' milli-quantized
    * components in ONE rollup (d rows out of a posexplode partial agg,
    * broadcast back), then
    * `code = (x_milli - mn) * 255 div (mx - mn)` — all-integer, in
    * [0, 255] by construction, a constant dimension coding to 0. Emits
    * long format (id, dim_index, code, err_milli) where `err_milli` is the
    * exact reconstruction error against the midpoint-free decode
    * `mn + code*(mx-mn) div 255` — the per-component quality audit that
    * decides whether SQ8 suffices or a dimension needs PQ.
    *
    * Shape: calibration rollup + one scan re-coding each component against
    * the broadcast d-row bounds table; both shuffles carry dimension keys,
    * never vectors. Long format keeps the driver-comparable contract
    * (array cells don't hash across engines); a consumer repacks with
    * collect_list ordered by dim_index.
    */
  def scalarQuantize8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val comp = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        posexplode(quantize(col(vecCol))).as(Seq("dim0", "x")))
      .select(col("id"), (col("dim0") + 1).as("dim_index"), col("x"))
    val bounds = comp.groupBy(col("dim_index"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    comp.join(broadcast(bounds), Seq("dim_index"))
      .withColumn("code",
        when(col("mx") > col("mn"),
          call_function("div", (col("x") - col("mn")) * 255L,
            col("mx") - col("mn"))).otherwise(lit(0L)))
      .withColumn("err_milli",
        abs(col("x") - (col("mn") +
          call_function("div", col("code") * (col("mx") - col("mn")),
            lit(255L)))))
      .select(col("id"), col("dim_index").cast("int").as("dim_index"),
        col("code"), col("err_milli"))
  }
}
