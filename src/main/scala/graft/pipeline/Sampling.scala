package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Pin.PinOps

/** Deterministic sampling for training-data pipelines (builder brief):
  * reproducible across runs, engines and partitionings — the sample is a
  * pure function of (id, salt), never of Spark's RNG or row order, so a
  * 100 TB re-run selects byte-identical rows and an oracle can re-derive
  * the selection.
  */
object Sampling {

  /** Uniform hash bucket in [0, 1e6): first 8 md5 hex digits of
    * "id|salt" mod 1e6 — engine-portable exact integer arithmetic.
    * NULL-PROPAGATING (concat, not concat_ws): a NULL id yields a NULL
    * bucket, so every sample filter DROPS NULL-id rows on any engine —
    * concat_ws would silently hash just the salt and admit them under one
    * engine but not a SQL `||` oracle. Quota ordering (capPerGroup)
    * requires non-null ids for the same reason.
    */
  def hashBucket(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit("|" + salt))), 1, 8), 16, 10)
      .cast("long") % 1000000L

  /** Keep ~fraction of rows, chosen by id hash. Stateless, no shuffle, no
    * RNG — scales as a pure filter pushed into the scan stage.
    */
  def hashSample(df: DataFrame, idCol: Column, fraction: Double,
      salt: String = ""): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction: $fraction")
    df.filter(hashBucket(idCol, salt) < math.round(fraction * 1000000L))
  }

  /** Mixture sampling ("40% web, 90% books, 5% logs"): per-group keep
    * fractions over one deterministic hash — the data-mixing knob of a
    * training pipeline, reproducible like [[hashSample]]. Groups absent
    * from `weights` default to `defaultFraction` (0 = drop). Still a pure
    * filter: no shuffle, pushes to the scan.
    */
  def mixtureSample(df: DataFrame, groupCol: String, weights: Map[String, Double],
      idCol: Column, defaultFraction: Double = 0.0, salt: String = ""): DataFrame = {
    (weights.values ++ Seq(defaultFraction)).foreach(f =>
      require(f >= 0 && f <= 1, s"fraction: $f"))
    val cut = weights.foldLeft(lit(math.round(defaultFraction * 1000000L))) {
      case (acc, (g, f)) => when(col(groupCol) === g, lit(math.round(f * 1000000L))).otherwise(acc)
    }
    df.filter(hashBucket(idCol, salt) < cut)
  }

  /** Temperature-flattened mixture (alpha = 0.5): per-group keep rates
    * proportional to sqrt(group size) — the standard size^alpha
    * re-weighting that up-samples small sources and down-samples dominant
    * ones (multilingual/multi-corpus pre-training mixes), targeting
    * `budget` expected kept rows overall.
    *
    * Unlike [[mixtureSample]] the rates derive FROM the data: one bounded
    * groupBy-count collect (one row per source — mixture groups are few by
    * definition), then the same pushed-down hash filter. All rate
    * arithmetic is exact integers: w_g = floor(sqrt(n_g * 10^6)) is an
    * exact isqrt (sqrt is correctly-rounded IEEE on every engine, floor
    * snaps the last ulp), and the per-mille cut is one BigInt floor
    * division — so the selected row set reproduces bit-identically on any
    * engine. alpha is pinned to 0.5 because general pow() is NOT
    * correctly-rounded across libms; other temperatures need a rational
    * exponent ladder of sqrt calls.
    *
    * NULL-group rows are dropped (no principled rate exists for them).
    */
  def temperatureSample(df: DataFrame, groupCol: String, idCol: Column,
      budget: Long, salt: String = ""): DataFrame = {
    require(budget >= 0, s"budget: $budget")
    // group keys normalized to string ONCE, in both the rollup and the cut
    // CASE below: a non-string groupCol (int lang id, …) would otherwise
    // throw on getString and compare via implicit casts in the filter
    val g = col(groupCol).cast("string")
    val counts = df.filter(g.isNotNull)
      .groupBy(g.as("__g")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val ws = counts.map { case (key, n) =>
      (key, n, BigInt(math.sqrt((n * 1000000L).toDouble).toLong))
    }
    val totalW = ws.map(_._3).sum
    val cuts = ws.map { case (key, n, w) =>
      val cut = (BigInt(1000000) * budget * w) / (BigInt(n) * totalW)
      key -> cut.min(BigInt(1000000)).toLong
    }
    val cut = cuts.foldLeft(lit(0L)) { case (acc, (key, c)) =>
      when(g === key, lit(c)).otherwise(acc)
    }
    df.filter(g.isNotNull && hashBucket(idCol, salt) < cut)
  }

  /** Per-group quota ("cap each domain/source at n docs"): keep the n rows
    * with the smallest (hash, id) per group — a uniform within-group choice
    * that is stable under reruns and data reordering.
    *
    * Scale shape: the rank-filter compiles to WindowGroupLimit, so each map
    * task pre-prunes to its local top-n per group BEFORE the shuffle — the
    * exchange carries O(groups x n), not the full table.
    */
  def capPerGroup(df: DataFrame, groupCols: Seq[String], n: Int, idCol: Column,
      salt: String = ""): DataFrame = {
    require(n > 0, s"n: $n")
    require(!df.columns.contains("__rn"), "column name '__rn' is reserved")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(hashBucket(idCol, salt).asc, idCol.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Deterministic EXACT stratified split (train/val/test): within each
    * stratum, rows ordered by (hash, id) are assigned to the named splits at
    * exact per-mille cutoffs — every stratum lands within one row of its
    * declared proportions (a plain id-hash split only holds proportions in
    * expectation, which skews small strata). The cutoff comparison
    * `rn * 1000 <= total * mille` is pure integer arithmetic, so assignments
    * reproduce bit-identically on any engine (no float-literal ceil
    * mismatches between decimal- and double-defaulting dialects).
    *
    * One shuffle on the strata columns (both window functions share it).
    *
    * `idCol` must be UNIQUE (a document id): duplicate ids tie on both
    * ordering keys, and a tied pair straddling a cutoff would land in
    * arbitrary splits per run/engine — same contract as [[capPerGroup]].
    */
  def stratifiedSplit(df: DataFrame, strataCols: Seq[String], idCol: Column,
      fractions: Seq[(String, Double)], salt: String = ""): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0), s"fractions: $fractions")
    require(!df.columns.contains("split"),
      "input already has a 'split' column (it would be silently replaced)")
    val milles = fractions.map { case (name, f) => name -> math.round(f * 1000) }
    // a fraction in (0, 0.0005) passes the f > 0 check but rounds to 0
    // per-mille — its split would silently never receive a row
    require(milles.forall(_._2 >= 1),
      s"every fraction must round to >= 1 per-mille (0.001): $fractions")
    require(milles.map(_._2).sum == 1000L,
      s"fractions must sum to 1.0 (per-mille): $fractions")
    val wOrd = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(hashBucket(idCol, salt).asc, idCol.asc)
    val wAll = Window.partitionBy(strataCols.map(col): _*)
    val rn  = row_number().over(wOrd).cast("long")
    val tot = count(lit(1)).over(wAll)
    val cum = milles.scanLeft(0L)(_ + _._2).tail
    // CASE chain first-cutoff-first: each row takes the FIRST cumulative
    // band it falls into; the last split is the otherwise-branch
    val assigned = milles.init.zip(cum.init).reverse.foldLeft(lit(milles.last._1)) {
      case (acc, ((name, _), cumMille)) =>
        when(rn * 1000L <= tot * cumMille, lit(name)).otherwise(acc)
    }
    df.withColumn("split", assigned)
  }

  /** Deterministic global shuffle into training shards: every row gets a
    * `shard` in [0, nShards) and a dense `pos` within its shard, both pure
    * functions of (id, salt) — the "shuffle the corpus before training" step,
    * reproducible across runs and engines. Write with
    * `.write.partitionBy("shard")` for one file set per shard.
    *
    * Scale shape: NO global total order (a full-corpus range sort) — shard
    * assignment is a map-side hash and only the per-shard position needs a
    * sort, partitioned nShards-wide. Intra-shard order reuses the same hash
    * (values stride nShards apart, still pseudorandom), tie-broken by id.
    *
    * `idCol` must be unique and non-null (NULL hashes propagate and those
    * rows would collapse into one tie-group; same contract as capPerGroup).
    */
  def shuffleShards(df: DataFrame, idCol: Column, nShards: Int,
      salt: String = ""): DataFrame = {
    require(nShards >= 1 && nShards <= 1000000, s"nShards: $nShards")
    require(!df.columns.contains("shard") && !df.columns.contains("pos"),
      "column names 'shard'/'pos' are reserved")
    val bucket = hashBucket(idCol, salt)
    val shard = (bucket % nShards).cast("int")
    val w = Window.partitionBy(shard).orderBy(bucket.asc, idCol.asc)
    // running LONG count, not row_number(): row_number is IntegerType and a
    // shard past 2^31-1 rows (a 100 TB corpus on few shards) would silently
    // wrap to negative positions
    df.withColumn("shard", shard)
      .withColumn("pos",
        sum(lit(1L)).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1L)
  }

  /** Inter-document sequence packing (the concat-then-chunk training-data
    * layout): documents are laid end-to-end in deterministic pseudorandom
    * order within each shard, and the resulting token stream is cut every
    * `seqLen` tokens. Each doc gets the training sequence its FIRST token
    * lands in (`seq_id`) and its offset inside that sequence (`seq_offset`)
    * — downstream writers emit one packed row per (shard, seq_id). Docs
    * longer than seqLen simply span sequences, like the real layout.
    *
    * Adds: shard, seq_id, seq_offset. Pure integer cumulative arithmetic.
    *
    * Scale shape: one shuffle — shard assignment is map-side and the
    * position + running-token windows share the identical
    * (partition, order) spec, so Catalyst plans a single exchange+sort.
    */
  def packSequences(df: DataFrame, idCol: Column, tokenCountCol: Column,
      seqLen: Int, nShards: Int, salt: String = ""): DataFrame = {
    require(seqLen >= 1, s"seqLen: $seqLen")
    require(nShards >= 1 && nShards <= 1000000, s"nShards: $nShards")
    require(!df.columns.contains("shard") && !df.columns.contains("seq_id")
        && !df.columns.contains("seq_offset"),
      "column names 'shard'/'seq_id'/'seq_offset' are reserved")
    val bucket = hashBucket(idCol, salt)
    val shard = (bucket % nShards).cast("int")
    val w = Window.partitionBy(shard).orderBy(bucket.asc, idCol.asc)
    val before = coalesce(
      sum(tokenCountCol.cast("long"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    // BOTH window-derived columns in ONE projection: chained withColumn
    // would extract two separate Window operators (two exchanges) even for
    // the identical window spec. Integer `div`, not `/`: Column division is
    // DOUBLE division, exact only below 2^53 — a long token stream must not
    // round its seq ids.
    df.select(col("*"), shard.as("shard"),
      call_function("div", before, lit(seqLen.toLong)).as("seq_id"),
      (before % seqLen).as("seq_offset"))
  }

  /** Epoch/repetition sampling (the data-recipe UPSAMPLING knob, dual of
    * [[mixtureSample]]'s sub-sampling): a group with epochs = 2.5 emits
    * every row twice plus a third copy for a deterministic-hash-chosen 50%
    * of rows — the "books x2.5, web x1, logs x0.3" recipe of LLM
    * pre-training mixes, with fractional epochs realized per-row instead of
    * in expectation-over-reruns. Output repeats each surviving input row
    * with `copy` in 1..n (n = 0 rows vanish, so epochs < 1 subsumes
    * mixture-style downsampling).
    *
    * Scale shape: pure map — a per-row CASE for the rate, one bounded
    * explode(sequence) for the copies; no shuffle, no RNG, reruns emit the
    * identical multiset. Fractional parts use the same exact per-million
    * integer cuts as [[hashSample]].
    */
  def repeatSample(df: DataFrame, groupCol: String, epochs: Map[String, Double],
      idCol: Column, defaultEpochs: Double = 1.0, salt: String = ""): DataFrame = {
    (epochs.values ++ Seq(defaultEpochs)).foreach(e =>
      require(e >= 0 && e <= 100, s"epochs out of [0,100]: $e"))
    require(!df.columns.contains("copy"), "column name 'copy' is reserved")
    def whole(e: Double): Long = math.floor(e).toLong
    def fracCut(e: Double): Long = math.round((e - math.floor(e)) * 1000000L)
    val (wholeCol, fracCol) = epochs.foldLeft(
      (lit(whole(defaultEpochs)), lit(fracCut(defaultEpochs)))) {
      case ((wAcc, fAcc), (g, e)) =>
        (when(col(groupCol) === g, lit(whole(e))).otherwise(wAcc),
          when(col(groupCol) === g, lit(fracCut(e))).otherwise(fAcc))
    }
    val n = wholeCol + when(hashBucket(idCol, salt) < fracCol, 1L).otherwise(0L)
    // sequence(1, 0) counts DOWN in Spark — emit the empty array explicitly
    df.withColumn("copy",
        explode(when(n >= 1, sequence(lit(1L), n))
          .otherwise(array().cast("array<bigint>"))))
  }

  /** Token-budget corpus selection: keep the highest-quality docs whose
    * cumulative token count fits `budget`, in the exact global order
    * (quality DESC, id ASC) — "give me the best 10B tokens" as one
    * deterministic operator. Emits the kept rows with `cum_tokens` (the
    * running total INCLUDING the row, <= budget).
    *
    * Scale shape: the naive `sum() OVER (ORDER BY quality DESC)` is a
    * single-partition window over the WHOLE corpus. Here the running total
    * decomposes like [[graft.operators.Ranking.valueRanks]]: a
    * partial-agg rollup to per-quality-value token sums, a cum-sum window
    * over DISTINCT quality values only (bounded cardinality — quantize
    * scores first, same caveat as Stats), and a per-value window ordered by
    * id for the boundary value, all other values being kept or dropped
    * wholesale by their group prefix sum. The corpus shuffles twice on
    * high-cardinality keys ((quality) rollup, (quality) re-join) and never
    * funnels through one task.
    *
    * `quality` must be non-NULL bounded-cardinality (NULL rows are
    * dropped); ties inside a quality value break by id ascending, so the
    * kept set is engine-exact.
    */
  def tokenBudgetSelect(df: DataFrame, quality: Column, tokenCount: Column,
      budget: Long, idCol: Column,
      maxDistinctQuality: Long = 2000000L): DataFrame = {
    require(budget >= 0, s"budget: $budget")
    require(maxDistinctQuality >= 1, s"maxDistinctQuality: $maxDistinctQuality")
    Seq("__q", "__ntok", "__gtok", "__cum_before", "__run").foreach(c =>
      require(!df.columns.contains(c), s"column name '$c' is reserved"))
    require(!df.columns.contains("cum_tokens"), "column name 'cum_tokens' is reserved")
    val rows = df.filter(quality.isNotNull)
      .withColumn("__q", quality)
      .withColumn("__ntok", tokenCount.cast("long"))
    val groups = rows.groupBy(col("__q")).agg(sum(col("__ntok")).as("__gtok"))
    val wq = Window.orderBy(col("__q").desc)
    // same raise-or-bin contract as Ranking.valueRanks' ungrouped path:
    // the cross-group cum-sum window is single-partition BY DESIGN over
    // the distinct-quality rollup, so an unquantized double quality
    // column (the docstring's warned-against misuse) must fail loud, not
    // silently funnel the corpus through one task
    val guard = when(row_number().over(wq) > maxDistinctQuality,
      raise_error(lit(s"tokenBudgetSelect exceeded $maxDistinctQuality " +
        "distinct quality values — quantize/bin the quality column first " +
        "(e.g. floor(q * 100))")).cast("long")).otherwise(lit(0L))
    val groupCums = groups.withColumn("__cum_before",
      coalesce(sum(col("__gtok")).over(wq.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)) + guard)
      .select(col("__q"), col("__cum_before"))
    val wid = Window.partitionBy(col("__q")).orderBy(idCol.asc)
    rows
      // distinct quality values are few by contract — broadcast the offsets
      .join(broadcast(groupCums), Seq("__q"))
      .withColumn("__run", sum(col("__ntok")).over(wid))
      .withColumn("cum_tokens", col("__cum_before") + col("__run"))
      .filter(col("cum_tokens") <= budget)
      .drop("__q", "__ntok", "__gtok", "__cum_before", "__run")
  }

  /** Hashed feature bucket in [0, nBuckets): the [[hashBucket]] md5 idiom
    * with a caller-chosen modulus — the "hashing trick" feature map of
    * DSIR / fasttext-style linear models, engine-portable like every
    * sampling hash here.
    */
  def featureBucket(gram: Column, nBuckets: Int, salt: String): Column =
    conv(substring(md5(concat(gram, lit("|" + salt))), 1, 8), 16, 10)
      .cast("long") % nBuckets

  /** DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score
    * each document by how much more likely its hashed-n-gram features are
    * under the TARGET distribution (rows where `isTarget`) than under the
    * raw corpus — the data-selection signal for "pick web data that looks
    * like the high-quality target". Features are hashed unigrams+bigrams
    * (`featureBucket`, add-1-smoothed counts); the paper's per-feature
    * log-likelihood-ratio is replaced by the CENTERED-LINEAR exact-integer
    * ratio score
    *
    *   s_w = (scale * (t_w+1) * (R+B)) div ((r_w+1) * (T+B)) - scale
    *
    * (t/r = target/raw bucket counts, T/R their totals, B = nBuckets) and
    * a document's weight is the exact BIGINT `sum(c_w * s_w)` over its
    * buckets. The centering is the first-order log (log x ~= x - 1 around
    * 1): a feature MORE likely under the target contributes positively, a
    * LESS likely one negatively — without it, every token adds a positive
    * term and long off-target documents out-accumulate short on-target
    * ones, inverting the selection. Monotone per feature like the log
    * form, reproducible bit-for-bit on any engine (the repo-wide log-free
    * policy; see bm25TermScores' odds-ratio idf for the same trade).
    * Select by (weight DESC, doc_id) and the ranking is total.
    *
    * Integer-exactness bound: `scale * T * R` must stay under 2^63 —
    * holds to ~10^9 target grams x 10^6 raw/target ratio at the default
    * scale. Past that, train the bucket stats on a [[hashSample]] of the
    * raw side (the paper itself fits hashed models on a subsample).
    *
    * Scale shape: one scan explodes grams to (doc, bucket) counts
    * (partial-agg shuffle on uniform md5 buckets), bucket stats roll up to
    * <= nBuckets rows, totals ride along as a broadcast 1-row cross join
    * (never a driver collect), and the per-doc weight is one more
    * partial-agg shuffle on doc_id. Nothing is ever keyed by a skewed
    * value; nothing driver-side scales with the corpus.
    */
  def dsirWeights(docs: DataFrame, isTarget: Column, nBuckets: Int = 4096,
      scale: Long = 1000L, salt: String = "dsir",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(nBuckets >= 1, s"nBuckets: $nBuckets")
    require(scale >= 1, s"scale: $scale")
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"), isTarget.as("__tgt"),
        TextAnalysis.tokens(col(textCol)).as("__tk"))
    val grams = concat(col("__tk"), TextAnalysis.ngramsFromTokens(col("__tk"), 2))
    val feat = base
      .select(col("doc_id"), col("__tgt"), explode(grams).as("__g"))
      .select(col("doc_id"), col("__tgt"),
        featureBucket(col("__g"), nBuckets, salt).as("__bucket"))
      .groupBy(col("doc_id"), col("__tgt"), col("__bucket"))
      .agg(count(lit(1)).as("__c"))
    val stats = feat.groupBy(col("__bucket")).agg(
      sum(when(col("__tgt"), col("__c")).otherwise(lit(0L))).as("__t"),
      sum(col("__c")).as("__r"))
    val totals = stats.agg(sum(col("__t")).as("__bigT"), sum(col("__r")).as("__bigR"))
    val scored = stats.crossJoin(broadcast(totals))
      .select(col("__bucket"),
        expr(s"(${scale}L * (__t + 1) * (__bigR + $nBuckets)) div " +
          s"((__r + 1) * (__bigT + $nBuckets)) - ${scale}L").as("__s"))
    feat.join(scored, Seq("__bucket"))
      .groupBy(col("doc_id"), col("__tgt"))
      .agg(sum(col("__c") * col("__s")).as("weight"))
      .select(col("doc_id"), col("__tgt").as("is_target"), col("weight"))
  }

  /** Water-filling budget allocation: the maximal uniform per-group token
    * cap `c` such that `sum_g min(T_g, c) <= budget`, plus each group's
    * allocation under it — the mixture-design answer to "spread 1T tokens
    * across domains as evenly as the small domains allow" (small domains
    * keep everything, large ones truncate at the shared water line;
    * "uniform-cap" allocation, the fairness dual of [[mixtureSample]]'s
    * fixed ratios).
    *
    * Exact integer arithmetic over the GROUP-TOTALS rollup: sort totals
    * ascending, walk the prefix until the remaining groups at the current
    * total would exceed the budget — the cap is an integer division of the
    * remaining budget. The cross-group windows are single-partition BY
    * DESIGN over bounded-cardinality group totals (domains/sources), with
    * the same raise-don't-funnel guard as [[tokenBudgetSelect]]. When the
    * corpus fits the budget, cap is NULL and every group keeps its total.
    *
    * Output: (group, total_tokens, cap, alloc_tokens).
    */
  def waterFillAllocation(df: DataFrame, groupCol: String, tokens: Column,
      budget: Long, maxGroups: Long = 2000000L): DataFrame = {
    require(budget >= 0, s"budget: $budget")
    require(maxGroups >= 1, s"maxGroups: $maxGroups")
    val totals = df.groupBy(col(groupCol))
      .agg(sum(tokens.cast("long")).as("total_tokens"))
    val w = Window.orderBy(col("total_tokens").asc, col(groupCol).asc)
    val guard = when(row_number().over(w) > maxGroups,
      raise_error(lit(s"waterFillAllocation exceeded $maxGroups groups — " +
        "the cross-group window is single-partition by contract; " +
        "pre-aggregate to a bounded grouping first")).cast("long"))
      .otherwise(lit(0L))
    val ranked = totals
      .withColumn("__cum_before", coalesce(sum(col("total_tokens"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + guard)
      .withColumn("__rk", row_number().over(w).cast("long"))
      .withColumn("__ng", count(lit(1)).over(
        Window.orderBy(lit(1)).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    val capRow = ranked
      .filter(col("__cum_before") +
        (col("__ng") - col("__rk") + 1L) * col("total_tokens") >= budget)
      .orderBy(col("total_tokens").asc, col(groupCol).asc)
      .limit(1)
      .select(expr(s"(${budget}L - __cum_before) div (__ng - __rk + 1)").as("cap"))
    totals
      .join(broadcast(capRow), lit(true), "left")
      .select(col(groupCol), col("total_tokens"), col("cap"),
        least(col("total_tokens"), coalesce(col("cap"), col("total_tokens")))
          .as("alloc_tokens"))
  }

  /** [[prioritySample]] within every group: "the best-weighted k docs PER
    * DOMAIN" — the weighted refinement of [[capPerGroup]]'s uniform quota.
    * Same integer priorities; the per-group top-k is a rank filter that
    * compiles to WindowGroupLimit, so overflow rows prune map-side before
    * the shuffle, exactly like capPerGroup.
    */
  def prioritySamplePerGroup(df: DataFrame, groupCols: Seq[String],
      idCol: Column, weight: Column, k: Int, salt: String = ""): DataFrame = {
    require(k >= 1, s"k: $k")
    require(groupCols.nonEmpty, "prioritySamplePerGroup needs group columns")
    Seq("priority", "__w", "__u", "__rn").foreach(c =>
      require(!df.columns.contains(c), s"column name '$c' is reserved"))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("priority").desc, idCol.asc)
    df.withColumn("__w", greatest(weight.cast("long"), lit(0L)))
      .withColumn("__u", hashBucket(idCol, salt) + 1L)
      .withColumn("priority", expr("(__w * 1000000) div __u"))
      .filter(col("priority") > 0)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__w", "__u", "__rn")
  }

  /** Priority sampling (Duffield, Lund & Thorup, JACM 2007): a weighted
    * sample WITHOUT replacement of k rows — each row draws a uniform
    * u in [1, 1e6] from the [[hashBucket]] hash and competes with priority
    * q = (weight * 1e6) div u; the k highest priorities win. Heavier rows
    * draw proportionally higher priorities, and the scheme's subset-sum
    * estimator is provably near-optimal — the principled way to pick "k
    * documents, weighted by token count" for a training mix without an RNG
    * or a with-replacement bias.
    *
    * EXACT integer arithmetic end to end (no u^(1/w) floats — pow() is not
    * bit-identical across engines); ties totalize on id so the selected
    * set is engine-deterministic. Top-k runs as orderBy+limit, which Spark
    * executes as per-partition TakeOrdered + a k-row driver merge — no
    * single-partition window, no global sort materialization.
    *
    * Zero/negative weights never win (priority 0); NULL ids hash to NULL
    * and drop, matching every sampler here.
    */
  def prioritySample(df: DataFrame, idCol: Column, weight: Column, k: Int,
      salt: String = ""): DataFrame = {
    require(k >= 1, s"k: $k")
    Seq("priority", "__w", "__u").foreach(c =>
      require(!df.columns.contains(c), s"column name '$c' is reserved"))
    df.withColumn("__w", greatest(weight.cast("long"), lit(0L)))
      .withColumn("__u", hashBucket(idCol, salt) + 1L)
      // `div`, not `/`: Column `/` is DOUBLE division, and at priority
      // magnitudes (~1e12) the correctly-rounded double can still land on
      // the wrong side of an integer vs an engine that divides integrally
      .withColumn("priority", expr("(__w * 1000000) div __u"))
      .filter(col("priority") > 0)
      .orderBy(col("priority").desc, idCol.asc)
      .limit(k)
      .drop("__w", "__u")
  }

  /** Deterministic negative-pair mining for contrastive training: every
    * document (anchor) gets `kNeg` pseudo-random partners that are NOT
    * its known positives — the (anchor, negative) pairs a bi-encoder
    * trains against. No RNG: candidate choice is the same md5 hash family
    * as [[hashSample]], so a rerun (or the DuckDB oracle) mines the
    * identical pairs.
    *
    * Scale shape: the full cross product is never formed. Docs land in
    * `nBuckets` hash buckets; each anchor probes ONE pseudo-random bucket
    * and ranks only that bucket's members — candidates per anchor ~ N/B,
    * so the pair volume is N·(N/B), tuned by `nBuckets` exactly like the
    * banded dedup family. Known positives (both orientations) die in an
    * anti-join BEFORE the rank; self-pairs die in the probe filter. The
    * per-anchor top-k compiles to WindowGroupLimit (rank pruned map-side).
    *
    * Negatives are uniform-at-random w.r.t. the hash family — "easy"
    * negatives; feed [[graft.pipeline.Similarity]] ANN output as
    * `positives` to harden them.
    *
    * Output: (anchor_id, negative_id, rank) with rank in [1, kNeg].
    */
  def negativePairs(docs: DataFrame, idCol: String, positives: DataFrame,
      aCol: String, bCol: String, kNeg: Int, nBuckets: Int,
      salt: String = ""): DataFrame = {
    require(kNeg >= 1, s"kNeg: $kNeg")
    require(nBuckets >= 1, s"nBuckets: $nBuckets")
    val cands = docs.select(col(idCol).cast("long").as("negative_id"),
      (hashBucket(col(idCol), salt) % nBuckets).as("__b"))
    val anchors = docs.select(col(idCol).cast("long").as("anchor_id"),
      (hashBucket(col(idCol), salt + "p") % nBuckets).as("__b"))
    val pos = positives.select(
      least(col(aCol), col(bCol)).cast("long").as("__pa"),
      greatest(col(aCol), col(bCol)).cast("long").as("__pb"))
    val paired = anchors.join(cands, Seq("__b"))
      .filter(col("anchor_id") =!= col("negative_id"))
      .join(pos,
        least(col("anchor_id"), col("negative_id")) === col("__pa") &&
          greatest(col("anchor_id"), col("negative_id")) === col("__pb"),
        "left_anti")
      .withColumn("__h", hashBucket(
        concat(col("anchor_id").cast("string"), lit("~"),
          col("negative_id").cast("string")), salt))
    paired
      .withColumn("rank", row_number().over(Window
        .partitionBy(col("anchor_id"))
        .orderBy(col("__h").asc, col("negative_id").asc)))
      .filter(col("rank") <= kNeg)
      .select(col("anchor_id"), col("negative_id"), col("rank").cast("long").as("rank"))
  }

  /** Largest-remainder apportionment (Hamilton's method): split exactly
    * `totalSlots` integer slots across keys proportionally to weights —
    * base quota `floor(slots * w / W)` per key, then the leftover slots
    * go to the largest REMAINDERS (ties on key order) — the exact quota
    * allocator behind stratified sample sizing, shard budgeting, and
    * seat assignment, with `sum(slots) == totalSlots` guaranteed BY
    * CONSTRUCTION (no post-hoc rounding drift to patch). All integer:
    * remainders compare as the exact numerators `slots*w - base*W`.
    *
    * Remainder ranks come from
    * [[graft.operators.Ranking.globalRowNumbers]] over the unique
    * (remainder desc, key asc) order — no single-partition window even
    * at millions of keys. Zero/NULL-weight keys get zero slots and never
    * absorb a leftover (their remainder is 0 and leftovers < #keys).
    */
  def apportion(df: DataFrame, keyCol: Column, weightCol: Column,
      totalSlots: Long): DataFrame = {
    require(totalSlots >= 1, s"totalSlots: $totalSlots")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val base = df
      .select(keyCol.cast("string").as("key"),
        coalesce(weightCol.cast("long"), lit(0L)).as("weight"))
      .groupBy(col("key")).agg(sum(col("weight")).as("weight"))
      .pinLazy() // feeds the total agg and the ranked pass
    val tot = base.agg(coalesce(sum(col("weight")), lit(0L)).as("__w"))
    val quotas = base.crossJoin(broadcast(tot))
      .withColumn("base_slots",
        when(col("__w") > 0L, call_function("div",
          dec(lit(totalSlots)) * dec(col("weight")), dec(col("__w")))
          .cast("long")).otherwise(lit(0L)))
      .withColumn("__rem",
        when(col("__w") > 0L,
          (dec(lit(totalSlots)) * dec(col("weight")) -
            dec(col("base_slots")) * dec(col("__w"))).cast("long"))
          .otherwise(lit(0L)))
    val leftover = quotas
      .agg((lit(totalSlots) - coalesce(sum(col("base_slots")), lit(0L)))
        .as("__left"))
    graft.operators.Ranking
      .globalRowNumbers(quotas, Seq(col("__rem").desc, col("key").asc),
        "__rk")
      .crossJoin(broadcast(leftover))
      .withColumn("extra",
        when(col("__rk") < col("__left") && col("__rem") > 0L, 1L)
          .otherwise(0L))
      .select(col("key"), col("weight"), col("base_slots"),
        col("__rem").as("remainder"), col("extra"),
        (col("base_slots") + col("extra")).as("slots"))
  }

  /** Mixture-rebalance PLANNER: given declared target shares (ppm) per
    * source, compute the LARGEST total corpus that honors the shares with
    * the rows actually available — `T = min_i floor(n_i * 1e6 / share_i)`
    * — and per source the rows to take, the keep ratio a sampler (e.g.
    * [[mixtureSample]]) should be handed, and whether that source is the
    * BINDING constraint (the one to go collect more of). The samplers
    * here consume fractions; this is where the fractions come from — run
    * it before a pretraining mix job instead of discovering mid-run that
    * the 30% source only covers 12%.
    *
    * All integer: caps and takes are floor divisions; `take <= n` by
    * construction (`T <= n_i*1e6/share_i` implies `T*share_i/1e6 <= n_i`).
    * A declared source absent from the data caps T at 0 — an infeasible
    * mix reports itself as an all-zero plan, not a silent re-scale.
    * Shape: one source rollup left-joined from the broadcast declared dim,
    * a 1-row min, broadcast back.
    */
  def mixRebalance(df: DataFrame, sourceCol: Column,
      targetPpm: Seq[(String, Long)]): DataFrame = {
    require(targetPpm.nonEmpty && targetPpm.map(_._1).distinct.size ==
      targetPpm.size, s"duplicate sources: $targetPpm")
    require(targetPpm.forall(_._2 > 0) && targetPpm.map(_._2).sum == 1000000L,
      s"target shares must be positive and sum to 1e6: $targetPpm")
    val spark = df.sparkSession
    import spark.implicits._
    val target = targetPpm.toDF("source", "target_ppm")
    val counts = df.groupBy(sourceCol.cast("string").as("source"))
      .agg(count(lit(1)).as("n_rows"))
    val capped = broadcast(target).join(counts, Seq("source"), "left")
      .withColumn("n_rows", coalesce(col("n_rows"), lit(0L)))
      .withColumn("__cap",
        call_function("div", col("n_rows") * 1000000L, col("target_ppm")))
    val tMin = capped.agg(min(col("__cap")).as("feasible_total"))
    capped.crossJoin(broadcast(tMin))
      .withColumn("take_rows",
        call_function("div", col("feasible_total") * col("target_ppm"),
          lit(1000000L)))
      .withColumn("keep_ppm",
        when(col("n_rows") > 0L,
          call_function("div", col("take_rows") * 1000000L, col("n_rows")))
          .otherwise(lit(0L)))
      .withColumn("binding", col("__cap") === col("feasible_total"))
      .select(col("source"), col("n_rows"), col("target_ppm"),
        col("feasible_total"), col("take_rows"), col("keep_ppm"),
        col("binding"))
  }
}
