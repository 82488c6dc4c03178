package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Pin.PinOps

/** Entity resolution / record linkage: approximate string matching between a
  * dirty feed and a master registry (or a table against itself) under an edit
  * distance threshold — the classic "same provider, typo'd name" problem the
  * reference's healthcare domain deals with upstream of every member/provider
  * join (builder brief; additive to the reference surface).
  *
  * NEVER all-pairs: candidate pairs come from BLOCKING — each key emits two
  * compact blocking tokens, its first and last `blockLen` characters. For a
  * single edit (insert/delete/substitute) not touching both ends, at least
  * one of the two tokens survives unchanged on keys longer than
  * 2*`blockLen`, so single-typo recall is structural; multi-edit recall is
  * the standard approximate-blocking tradeoff, documented not hidden. Block
  * membership is tiny (tag + token), so the exploded candidate stream stays
  * narrow until the hash join on the token.
  *
  * Skew/precision guard: blocking tokens shared by more than `maxBlockSize`
  * right-side rows are dropped BEFORE the join — a token that common ("Inc",
  * "Corp" prefixes at corpus scale) is boilerplate, not identity signal, and
  * its block would produce maxBlockSize x |left-block| candidate pairs. Same
  * discipline as the banded-dedup hot-bucket guards (Dedup.scala).
  *
  * What the guard COSTS (measured, ScaleProbe fuzzy_skew + BASELINE.md r9):
  * exactly the true pairs whose EVERY agreeing block is hot — a pair that
  * also shares a diverse token still surfaces through it. On the
  * adversarial shape (half the registry sharing one prefix, queries
  * mutated so the suffix never agrees) the guard traded 50% recall for
  * 3.6x time on a 5k registry; the time gap grows with |hot block|^2 while
  * the recall loss stays bounded by the hot-only-pair fraction. Size
  * maxBlockSize to the largest token multiplicity that still carries
  * identity signal in YOUR registry, not to the candidate budget alone.
  *
  * The edit-distance filter runs Spark's THRESHOLDED levenshtein — the
  * banded O(maxDist * min(len)) early-exit DP, not the full quadratic
  * matrix — and a length-difference prune runs before it (|len(a) - len(b)|
  * > maxDist can never match; it skips the DP entirely for most of a
  * block's cross product).
  *
  * Output: per left row, the single best match — lowest distance, ties to
  * the smallest right id, so results are engine-deterministic. Unmatched
  * left rows are absent (inner semantics; callers left-join back if they
  * need the misses).
  */
object FuzzyLink {

  /** All candidate pairs within the edit-distance threshold:
    * (left_id, right_id, dist), deduped across blocks, un-ranked.
    */
  def candidates(
      left: DataFrame, leftId: Column, leftKey: Column,
      right: DataFrame, rightId: Column, rightKey: Column,
      maxDist: Int = 2, blockLen: Int = 4,
      maxBlockSize: Int = 1000): DataFrame = {
    require(maxDist >= 0, s"maxDist: $maxDist")
    require(blockLen >= 1, s"blockLen: $blockLen")
    require(maxBlockSize >= 1, s"maxBlockSize: $maxBlockSize")

    def tokens(k: Column): Column = array(
      struct(lit("p").as("tag"), substring(k, 1, blockLen).as("tok")),
      struct(lit("s").as("tag"), substring(k, -blockLen, blockLen).as("tok")))

    def blocked(df: DataFrame, id: Column, key: Column,
        idName: String, keyName: String): DataFrame =
      df.select(id.as(idName), key.as(keyName))
        .filter(col(keyName).isNotNull)
        .select(col(idName), col(keyName),
          explode(array_distinct(tokens(col(keyName)))).as("b"))
        .select(col(idName), col(keyName), col("b.tag"), col("b.tok"))

    val lb = blocked(left, leftId, leftKey, "left_id", "lk")
    val rb = blocked(right, rightId, rightKey, "right_id", "rk")

    // hot-block guard on the RIGHT (registry) side: the bound callers size
    // against; one narrow aggregate over the compact (tag, tok) stream
    val keep = rb.groupBy(col("tag"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBlockSize)
      .select(col("tag"), col("tok"))

    lb.join(rb.join(keep, Seq("tag", "tok")), Seq("tag", "tok"))
      .filter(abs(length(col("lk")) - length(col("rk"))) <= maxDist)
      .filter(levenshtein(col("lk"), col("rk"), maxDist) >= 0)
      // a pair can surface from both its prefix and suffix blocks
      .select(col("left_id"), col("right_id"),
        levenshtein(col("lk"), col("rk"), maxDist).as("dist"))
      .distinct()
  }

  /** Best match per left row (see object doc). */
  def link(
      left: DataFrame, leftId: Column, leftKey: Column,
      right: DataFrame, rightId: Column, rightKey: Column,
      maxDist: Int = 2, blockLen: Int = 4,
      maxBlockSize: Int = 1000): DataFrame = {
    val cand = candidates(left, leftId, leftKey, right, rightId, rightKey,
      maxDist, blockLen, maxBlockSize)
    val best = Window.partitionBy(col("left_id"))
      .orderBy(col("dist").asc, col("right_id").asc)
    cand
      .withColumn("__rn", row_number().over(best))
      .filter(col("__rn") === 1)
      .select(col("left_id"), col("right_id"), col("dist"))
  }

  /** Self-linkage (fuzzy DEDUP): every unordered pair within `df` at edit
    * distance <= maxDist, via the same blocking machinery; `id_a < id_b`
    * canonicalizes pair direction. Feeds [[graft.pipeline.Dedup
    * .connectedComponents]] for cluster formation like the banded families.
    */
  def selfPairs(df: DataFrame, id: Column, key: Column,
      maxDist: Int = 2, blockLen: Int = 4,
      maxBlockSize: Int = 1000): DataFrame =
    candidates(df, id, key, df, id, key, maxDist, blockLen, maxBlockSize)
      .filter(col("left_id") < col("right_id"))
      .select(col("left_id").as("id_a"), col("right_id").as("id_b"),
        col("dist"))

  /** One field comparison of a Fellegi-Sunter model: a boolean agreement
    * predicate plus the log-likelihood-ratio weights it earns. Weights are
    * INTEGER MILLI-NATS precomputed by the caller from the model's m/u
    * probabilities (`agreeW = 1000*ln(m/u)`, `disagreeW =
    * 1000*ln((1-m)/(1-u))` — constants of the declared error model, not
    * data-derived here; an EM fit would estimate them upstream). Keeping
    * the weights as supplied literals makes the score exact integer
    * arithmetic any engine reproduces.
    */
  final case class FsField(agree: Column, agreeW: Long, disagreeW: Long)

  /** Fellegi-Sunter probabilistic record linkage scoring over a blocked
    * candidate space: probes x candidates equi-joined on `blockCol`
    * (never a cross product — the blocking key is the scale contract,
    * same as [[candidates]]' prefix blocks), each pair scored with the
    * summed field weights and classified by the two FS thresholds.
    * Returns (probe_id, cand_id, score_milli, decision) for pairs at or
    * above `lowerMilli` (below-lower pairs are the non-match mass — at
    * corpus scale materializing them is the bug, so they are dropped
    * inside the join stage).
    *
    * The probe side is expected small (a batch of incoming records to
    * resolve) and is broadcast; the candidate side streams. decision:
    * score >= upperMilli -> 'match', >= lowerMilli -> 'possible'.
    */
  def fellegiSunter(
      probes: DataFrame, probeId: Column,
      cands: DataFrame, candId: Column,
      blockCol: String,
      fields: Seq[FsField],
      lowerMilli: Long, upperMilli: Long): DataFrame = {
    require(fields.nonEmpty, "fellegiSunter: no fields")
    require(lowerMilli <= upperMilli, s"thresholds: $lowerMilli > $upperMilli")
    val score = fields.map(f =>
      when(f.agree, lit(f.agreeW)).otherwise(lit(f.disagreeW))).reduce(_ + _)
    cands.join(broadcast(probes), Seq(blockCol))
      .select(probeId.as("probe_id"), candId.as("cand_id"),
        score.as("score_milli"))
      .filter(col("score_milli") >= lowerMilli)
      .withColumn("decision",
        when(col("score_milli") >= upperMilli, lit("match"))
          .otherwise(lit("possible")))
  }

  /** Golden-record survivorship: collapse every record of an entity (a
    * linkage cluster id, a user id, a master key) into ONE row, choosing
    * each field by its own rule — the MDM step after [[linkCandidates]] /
    * Dedup's connected components decide WHICH rows are the same entity.
    * Three survivorship rule families, all with total deterministic
    * tie-breaks:
    *
    *  - `modeCols`: most frequent value wins (count DESC, value ASC) —
    *    the "majority vote" rule for categoricals;
    *  - `recencyCols`: the value carried by the LATEST record under
    *    (`orderCol`, `tieCol`) lexicographic order — "most recent wins",
    *    the rule for mutable attributes. The pair must uniquely order
    *    records within an entity or the result is still deterministic but
    *    decided by the value itself (max-struct semantics);
    *  - `minCols` / `maxCols`: plain extrema — first_seen/last_seen
    *    bounds, "most complete" numerics.
    *
    * Output: entity, n_records, then mode_/last_/min_/max_-prefixed
    * columns. NULLs lose to any value under mode (NULL groups are
    * excluded) and under min/max (agg semantics); a recency value may be
    * NULL if the latest record's field is NULL — survivorship reports what
    * the winning record SAYS, not the last non-null (that variant is a
    * coalesce over a second recency pass callers can add).
    *
    * Shape: one partial-agg rollup per mode column (keyed on (entity,
    * value) — map-side combinable, skew bounded by the entity's own
    * size), a single max-struct agg for ALL recency columns + extrema +
    * count, then equi-joins on the entity key. No raw-row window over the
    * whole table; every shuffle is keyed by entity.
    */
  def goldenRecord(df: DataFrame, entityCol: Column,
      orderCol: Column, tieCol: Column,
      modeCols: Seq[String] = Nil, recencyCols: Seq[String] = Nil,
      minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil): DataFrame = {
    require(modeCols.nonEmpty || recencyCols.nonEmpty || minCols.nonEmpty ||
      maxCols.nonEmpty, "goldenRecord: no survivorship rules")
    val base = df.withColumn("__e", entityCol)
      .withColumn("__o", orderCol).withColumn("__t", tieCol)
    val recStruct = struct(col("__o") +: col("__t") +:
      recencyCols.map(col): _*)
    val aggs =
      Seq(count(lit(1)).as("n_records")) ++
        (if (recencyCols.nonEmpty) Seq(max(recStruct).as("__rec")) else Nil) ++
        minCols.map(c => min(col(c)).as(s"min_$c")) ++
        maxCols.map(c => max(col(c)).as(s"max_$c"))
    val core0 = base.groupBy(col("__e")).agg(aggs.head, aggs.tail: _*)
    // struct() keeps simple-column field names, so the recency values
    // extract by their own names
    val core = recencyCols.foldLeft(core0) { (acc, c) =>
      acc.withColumn(s"last_$c", col("__rec").getField(c))
    }.drop("__rec")
    val withModes = modeCols.foldLeft(core) { (acc, c) =>
      val w = Window.partitionBy(col("__e"))
        .orderBy(col("__cnt").desc, col(c).asc)
      val m = base.filter(col(c).isNotNull)
        .groupBy(col("__e"), col(c))
        .agg(count(lit(1)).as("__cnt"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("__e"), col(c).as(s"mode_$c"))
      acc.join(m, Seq("__e"), "left")
    }
    withModes.withColumnRenamed("__e", "entity")
  }

  /** Mutual-best 1:1 assignment: from a scored candidate-pair relation,
    * keep exactly the pairs that are EACH OTHER's best match — rank 1 for
    * their left id AND rank 1 for their right id, ranked by (score desc,
    * other-id asc). The standard closed-form one-to-one reduction for
    * record linkage (a left record must not absorb two rights; greedy
    * global matching needs sequential passes, while mutual-best is one
    * shot, deterministic, and a subset of every maximum matching's
    * stable core). Ties break on the partner id, so the assignment is
    * engine-reproducible even at equal scores.
    *
    * Shape: two windows over the pair relation — one partitioned by each
    * side's id. Candidate lists are blocking-bounded upstream, so both
    * windows sort small per-key groups; two shuffles, no joins.
    */
  def mutualBestMatch(pairs: DataFrame, leftId: Column, rightId: Column,
      score: Column): DataFrame = {
    val base = pairs.select(leftId.as("left_id"), rightId.as("right_id"),
      score.as("score"))
    val byL = Window.partitionBy(col("left_id"))
      .orderBy(col("score").desc, col("right_id").asc)
    val byR = Window.partitionBy(col("right_id"))
      .orderBy(col("score").desc, col("left_id").asc)
    base.withColumn("__rl", row_number().over(byL))
      .withColumn("__rr", row_number().over(byR))
      .filter(col("__rl") === 1 && col("__rr") === 1)
      .select(col("left_id"), col("right_id"), col("score"))
  }

  /** Blocking-quality audit (Christen 2012's two standard measures): for a
    * candidate blocking key, the REDUCTION RATIO (share of the full N^2/2
    * comparison space the blocking discards) and the PAIRS COMPLETENESS
    * (share of known-true pairs that still land in one block) — the
    * pre-flight check that decides whether a linkage/dedup blocking key
    * is safe to ship BEFORE burning a cluster pass on it. Candidate-pair
    * volume is computed from the block-size rollup as `sum C(c, 2)` —
    * the pairs themselves are NEVER materialized (auditing a bad key must
    * not cost what the bad key would cost).
    *
    * Exact integers: pair counts are lossless `x*(x-1) div 2`; the two
    * ratios route products through DECIMAL(38,0) before their single
    * non-negative truncating ppm division. Rows with a NULL block key are
    * counted in `n_rows` (they are part of the comparison space) but form
    * no block; a truth pair whose either side is missing or NULL-blocked
    * counts as uncovered, denominator unchanged.
    *
    * Shape: one block-size rollup, two 1-row aggs, two equi-joins of the
    * truth pairs against the (id, block) projection. Nothing quadratic
    * anywhere — that is the point.
    */
  def blockingQuality(df: DataFrame, idCol: Column, blockCol: Column,
      truthPairs: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val base = df.select(idCol.cast("long").as("__id"), blockCol.as("__blk"))
      .pinLazy() // feeds the rollup and both truth joins
    val rowAgg = base.agg(count(lit(1)).as("n_rows"))
    val blockAgg = base.filter(col("__blk").isNotNull)
      .groupBy(col("__blk")).agg(count(lit(1)).as("__c"))
      .agg(count(lit(1)).as("n_blocks"),
        coalesce(sum(call_function("div",
          dec(col("__c")) * dec(col("__c") - 1L), dec(lit(2L)))), dec(lit(0L)))
          .cast("long").as("cand_pairs"))
    val tr = truthPairs
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .join(base.select(col("__id").as("id_a"), col("__blk").as("__ba")),
        Seq("id_a"), "left")
      .join(base.select(col("__id").as("id_b"), col("__blk").as("__bb")),
        Seq("id_b"), "left")
      .agg(count(lit(1)).as("truth_pairs"),
        coalesce(sum(when(col("__ba").isNotNull &&
          col("__ba") === col("__bb"), 1L)), lit(0L)).as("truth_covered"))
    rowAgg.crossJoin(blockAgg).crossJoin(tr)
      .withColumn("total_pairs",
        call_function("div", dec(col("n_rows")) * dec(col("n_rows") - 1L),
          dec(lit(2L))).cast("long"))
      .withColumn("reduction_ppm",
        when(col("total_pairs") > 0L,
          lit(1000000L) - call_function("div",
            dec(col("cand_pairs")) * dec(lit(1000000L)),
            dec(col("total_pairs"))).cast("long")))
      .withColumn("completeness_ppm",
        when(col("truth_pairs") > 0L,
          call_function("div", col("truth_covered") * 1000000L,
            col("truth_pairs"))))
  }
}
