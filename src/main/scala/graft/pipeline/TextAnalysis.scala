package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.engine.Pin.PinOps

/** Text-analysis operators for large-scale training-data pipelines (builder
  * brief; additive to the reference surface, designed stateless/partitionable
  * so they scale linearly with input splits — no shuffles except final aggs).
  *
  * Everything is a pure `Column` combinator over Spark's codegen'd
  * higher-order array functions: no UDFs, whole-stage codegen keeps these in
  * one pass over the text.
  */
object TextAnalysis {

  /** Whitespace tokenizer (the corpus is space-separated; a BPE-ish regex
    * variant is `tokensRegex`).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish regex tokenizer: word pieces, numbers, or single non-space
    * symbols — the shape GPT-style pre-tokenizers use.
    */
  def tokensRegex(text: Column): Column =
    // drop empty leading match artifacts
    filter(split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9 ])"), t => length(trim(t)) > 0)

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Fraction of tokens in `stopwords`; exact int/int -> double division. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isInCollection(stopwords))).cast("double") /
      size(toks).cast("double")
  }

  /** Deterministic quality score: length saturation x (1 - stopword load).
    * Matches the "length/punct/stopword ratios" heuristic family.
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    least(lit(1.0), tokenCount(text).cast("double") / lit(100.0)) *
      (lit(1.0) - stopwordRatio(text, stopwords))

  /** Linear text-classifier inference (the fasttext-style "model-based
    * quality filter" of GPT-3/LLaMA-class pipelines): hashed-unigram
    * features ([[Sampling.featureBucket]] hashing trick), a caller-trained
    * integer weight vector, exact BIGINT logit per document, threshold
    * gate. Weights are INTEGER by contract (train in floats, quantize to
    * fixed-point like the embedding ops) so the logit — and therefore the
    * kept set — is bit-identical on any engine and any partitioning.
    *
    * Scale shape: the model rides into the plan as ONE array literal
    * (Spark broadcasts plan literals with the task closure — no join, no
    * shuffle anywhere), and the logit is a per-row fold over the token
    * array: the whole operator is a narrow map a 100 TB scan absorbs.
    * The fold is a higher-order `aggregate` (interpreted, not codegen'd);
    * the exploded alternative is codegen-friendly but shuffles
    * corpus-token rows — per-row interpretation beats a corpus-wide
    * exchange, same call as the funnel fold.
    *
    * Emits every non-NULL-text row: (doc_id, logit, pass). Bias folds in
    * as the fold's seed.
    */
  def linearTextScore(docs: org.apache.spark.sql.DataFrame, weights: Array[Long],
      bias: Long = 0L, threshold: Long = 0L, salt: String = "lin",
      idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    val w = lit(weights)
    val logit = aggregate(tokens(col(textCol)), lit(bias), (acc, t) =>
      acc + element_at(w,
        Sampling.featureBucket(t, weights.length, salt).cast("int") + 1))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"), logit.as("logit"))
      .withColumn("pass", col("logit") >= threshold)
  }

  /** Marker-stopword language ID: score each language by marker-token hits,
    * argmax with deterministic tie-break on declaration order; 'und' when no
    * marker hits.
    */
  def langGuess(text: Column, markers: Seq[(String, Seq[String])]): Column = {
    val toks = tokens(text)
    // each per-language score is evaluated exactly ONCE (inside the array
    // literal); the argmax is a fold over that array — the greatest+when
    // chain shape would re-evaluate every score per comparison branch
    val entries = markers.map { case (lang, words) =>
      struct(size(filter(toks, t => t.isInCollection(words))).as("s"),
        lit(lang).as("lang"))
    }
    // strict > keeps the FIRST maximal language (declaration-order tie-break);
    // the zero seed means a language needs s > 0 to beat 'und'
    val best = aggregate(array(entries: _*),
      struct(lit(0).as("s"), lit("und").as("lang")),
      (acc, e) => when(e("s") > acc("s"), e).otherwise(acc))
    best("lang")
  }

  /** Normalized content fingerprint (exact-dup key): md5 of lowercased,
    * space-collapsed text.
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, " +", " ")))

  /** Winnowing fingerprints (Schleimer et al. 2003, SIGMOD — the MOSS
    * algorithm): character-k-gram hashes, one selected per window of `w`
    * consecutive grams — the RIGHTMOST minimal hash, the paper's robust
    * winnowing rule, so near-identical passages in different documents
    * select the same (local) fingerprints regardless of their offset. The
    * guarantee: any shared substring of length >= w + k - 1 contributes at
    * least one common fingerprint, while per-doc fingerprint density stays
    * ~2/(w+1) — the partial, position-robust overlap signal that whole-doc
    * [[fingerprint]] and position-anchored shingle ranks don't give.
    *
    * Emits one row per distinct selected fingerprint: (idCol, pos, fp) —
    * `pos` the 0-based gram offset. Fewer than `w` grams collapse to ONE
    * window (the paper's short-doc convention); sub-k and NULL texts emit
    * nothing. Everything is exact integer arithmetic on the md5 idiom, and
    * the whole computation is per-row narrow — a corpus-wide dedup joins
    * docs on `fp` afterwards, shuffling fingerprints (the sampled
    * ~2n/(w+1) stream), never raw text.
    *
    * Shape note: the gram-hash array materializes in its OWN projection
    * before the window pass references it per window — inlined, the md5
    * per gram would re-evaluate for every window touching it (interpreted
    * HOFs get no common-subexpression elimination; measured catastrophic).
    * CollapseProject leaves the split alone because the hash column is
    * referenced more than once and is non-cheap. The per-window
    * rightmost-min itself uses only codegen'd array built-ins
    * (slice/array_min/reverse/array_position), no lambda fold.
    */
  def winnowFingerprints(docs: org.apache.spark.sql.DataFrame, k: Int, w: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k: $k")
    require(w >= 1, s"w: $w")
    val text = col(textCol)
    val n = length(text) - (k - 1) // gram count
    // both stages are custom eval-only expressions (brief preference (b)):
    // the composed transform/slice/array_min formulation pays interpreted
    // lambda plumbing PER GRAM and O(n*w) re-slicing PER WINDOW — measured
    // 10s/20s (q165/q166) at sf0.1; the tight-loop expressions (one reused
    // MessageDigest + a monotonic deque, value-identical, oracles
    // unchanged) run the same queries at a fraction of that. Per-row
    // interpretation overhead is one call per document, not per gram.
    val base = docs.filter(text.isNotNull && n >= 1)
      .select(col(idCol).cast("long").as(idCol), text.as("__t"))
    // byte-based file splitting undersizes this stage: the map is
    // per-CHARACTER CPU (one md5 per gram), so a few-MB documents file
    // lands on 1-2 partitions and serializes the whole corpus hash on one
    // core (measured: the dominant q165 cost). One tiny shuffle of
    // (id, text) buys full-width parallelism; inputs already wider than
    // the session default are left alone.
    val target = docs.sparkSession.sparkContext.defaultParallelism
    val sized = if (base.rdd.getNumPartitions < target)
      base.repartition(target) else base
    sized
      .select(col(idCol),
        graft.plans.Expressions.md5GramHashes(col("__t"), k).as("__hs"))
      .select(col(idCol), explode(array_distinct(
        graft.plans.Expressions.winnowSelect(col("__hs"), w))).as("__s"))
      .select(col(idCol), col("__s.pos").as("pos"), col("__s.fp").as("fp"))
  }

  /** Near-duplicate candidate pairs from shared winnowing fingerprints
    * (the MOSS pairing step): docs sharing at least `minShared` distinct
    * selected fingerprints, with fingerprints appearing in more than
    * `maxDocFreq` docs dropped BEFORE pairing — those are boilerplate
    * (headers, license blocks) whose buckets would both flood the
    * candidate set with false pairs and blow the equi-join up
    * quadratically on a hot key. With the cap, per-fingerprint pair
    * volume is bounded by maxDocFreq^2 — the same guard-by-construction
    * as the banded dedup family, keyed on uniform md5 values.
    *
    * Emits (id_a, id_b, n_shared), id_a < id_b. n_shared counts DISTINCT
    * shared fingerprint values (positions don't matter across docs).
    */
  def winnowNearDupPairs(docs: org.apache.spark.sql.DataFrame, k: Int, w: Int,
      minShared: Int = 2, maxDocFreq: Long = 10,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(minShared >= 1, s"minShared: $minShared")
    require(maxDocFreq >= 2, s"maxDocFreq: $maxDocFreq (pairs need >= 2)")
    val fps = winnowFingerprints(docs, k, w, idCol, textCol)
      .select(col(idCol).as("__id"), col("fp")).distinct()
      // shared by the doc-freq roll-up AND both join sides: without a
      // materialization the gram-hash pipeline re-runs per consumer
      // (measured ~2x q166); compact (id, fp) rows checkpoint cheaply —
      // the invertedIndex discipline
      .pinLazy()
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq)
      .select(col("fp"))
    val kept = fps.join(keep, Seq("fp"), "left_semi")
    val a = kept.select(col("fp"), col("__id").as("id_a"))
    val b = kept.select(col("fp"), col("__id").as("id_b"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Corpus vocabulary: per-token term frequency + document frequency.
    * Shaped as two NARROW shuffles — (token, doc) pre-aggregation rolls up
    * to (token) — instead of a countDistinct whose distinct-expand would
    * re-shuffle every occurrence row (the q12 lesson at corpus scale).
    */
  def vocabulary(docs: org.apache.spark.sql.DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"), col("doc"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("token"))
      .agg(sum(col("n")).as("tf"), count(lit(1)).as("df"))

  /** Per-document token diversity via the Simpson repeat index — the
    * repetition spam signal that catches keyword-stuffed / template-looped
    * pages a perplexity gate misses. `simpson_ppm` is the exact-ppm
    * probability that two tokens drawn WITHOUT replacement are the same
    * type: `sum(f_i*(f_i-1)) * 1e6 div (n*(n-1))` — 0 for all-distinct
    * text, 1e6 for one token repeated; high values = low diversity. Exact
    * integer arithmetic end to end (the log-free analogue of token entropy,
    * same design seat as q221's log-free PMI). Single-token docs have no
    * pair to draw -> NULL.
    *
    * Shape: one (doc, token) partial-agg rollup, then a per-doc rollup —
    * the vocabulary() shuffle pattern; no windows, no distinct-expand.
    */
  def tokenDiversity(docs: org.apache.spark.sql.DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): org.apache.spark.sql.DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("f"))
      .groupBy(col("doc_id"))
      .agg(sum(col("f")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("f") * (col("f") - 1L)).as("rep_pairs"))
      .withColumn("simpson_ppm",
        when(col("n_tokens") > 1,
          call_function("div", col("rep_pairs") * 1000000L,
            col("n_tokens") * (col("n_tokens") - 1L))))
      .drop("rep_pairs")

  /** Inverted index over the corpus: per token, its document frequency and
    * a head-capped posting list (first `maxPostings` doc ids ascending,
    * comma-joined) — the retrieval-side artifact of a training-data search/
    * decontamination pipeline.
    *
    * Scale shape: ONE narrow (token, doc) rollup feeds both outputs (shared
    * via localCheckpoint, like the q76 keyword scan); the posting cap is a
    * rank FILTER before the aggregate — it compiles to WindowGroupLimit, so
    * map-side pruning means no agg buffer ever holds more than
    * `maxPostings` ids even for a stopword token with a billion postings.
    * `minDf` bounds the output against hapax noise.
    */
  def invertedIndex(docs: org.apache.spark.sql.DataFrame, minDf: Long,
      maxPostings: Int, textCol: String = "text",
      idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    require(minDf >= 1 && maxPostings >= 1, s"minDf=$minDf maxPostings=$maxPostings")
    val perDoc = docs
      .select(col(idCol).cast("long").as("doc"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"), col("doc")).agg(count(lit(1)).as("n"))
      .pinLazy() // shared by the df roll-up and the posting cap
    val dfs = perDoc.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token")).orderBy(col("doc").asc)
    val postings = perDoc
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= maxPostings)
      .groupBy(col("token"))
      .agg(graft.functions.Functions.listAggBy(col("doc"), col("doc"), ",")
        .as("postings"))
    dfs.filter(col("df") >= minDf).join(postings, "token")
      .select(col("token"), col("df"), col("postings"))
  }

  /** Positional postings (doc_id, pos, term): the position-aware inverted
    * index under phrase and proximity retrieval. One narrow posexplode —
    * build once, write bucketed/sorted by term, reuse across every phrase
    * query (the index-amortization argument for the join-based
    * [[phraseSearch]] below).
    */
  def positionalPostings(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(tokens(col(textCol))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("term"))

  /** Exact-phrase retrieval over positional postings: occurrences of the
    * consecutive token sequence `phrase`, as (doc_id, n_occurrences,
    * first_pos). Classic positional-index adjacency: the i-th term's
    * postings shift left by i and equi-join on (doc_id, pos) — every join
    * after the term filters is co-keyed, and a selective first term prunes
    * the stream before any exchange (filters push into the postings scan;
    * against a term-bucketed index they prune files). For a ONE-OFF phrase
    * over raw text a narrow per-doc array scan wins — this shape is for a
    * built-once index serving many queries.
    */
  def phraseSearch(postings: org.apache.spark.sql.DataFrame,
      phrase: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs at least one term")
    val first = postings.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.zipWithIndex.drop(1)
      .foldLeft(first) { case (acc, (w, i)) =>
        acc.join(postings.filter(col("term") === w)
          .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
      }
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"), min(col("pos")).as("first_pos"))
  }

  /** Directional token co-occurrence pairs within a `window`-token
    * lookahead: (t[i], t[i+j]) for j in 1..window — the raw statistic under
    * PMI/word-vector/collocation analyses. Exact integer positions, so the
    * pair multiset reproduces identically on any engine. `toks` must be a
    * materialized attribute (no-CSE-in-lambdas rule, see
    * [[shinglesFromTokens]]); docs shorter than 2 tokens (and NULL text)
    * contribute nothing.
    */
  def cooccurPairs(toks: Column, window: Int): Column = {
    require(window >= 1, s"window: $window")
    // guard BOTH sequence() calls: Spark's sequence(1, 0) counts DOWN
    when(size(toks) >= 2,
      flatten(transform(sequence(lit(1), size(toks) - 1), i =>
        transform(sequence(lit(1), least(lit(window), size(toks) - i)), j =>
          struct(element_at(toks, i).as("a"), element_at(toks, i + j).as("b"))))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))
  }

  /** Corpus collocation table: co-occurrence counts over [[cooccurPairs]],
    * thresholded at `minCount`. One explode + one partially-aggregated
    * shuffle on (a, b) — the count rollup combines map-side, so the
    * exchange carries distinct pairs per task, not the window-expanded
    * stream. PMI itself is left to the caller (it needs log, which is not
    * correctly-rounded across engines; the COUNTS are the portable part —
    * marginals come from [[vocabulary]]).
    */
  def cooccurrence(docs: org.apache.spark.sql.DataFrame, window: Int,
      minCount: Long, textCol: String = "text"): org.apache.spark.sql.DataFrame =
    docs.select(tokens(col(textCol)).as("toks"))
      .select(explode(cooccurPairs(col("toks"), window)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the word co-occurrence graph — a word matters when it co-occurs with
    * words that matter. Composes three existing exact primitives:
    * [[cooccurrence]] builds the windowed pair counts, the symmetrized
    * distinct pair set becomes an unweighted undirected graph (the paper's
    * base variant), words acquire integer node ids from the
    * [[graft.operators.Ranking.valueRanks]] dense rank over the VOCABULARY
    * (distinct words — the guarded bounded window, never raw tokens), and
    * [[graft.operators.Graph.pageRank]]'s fixed-point Long arithmetic
    * ranks them bit-reproducibly. Top-k by (pr desc, word asc) via
    * orderBy+limit (TakeOrdered), rank attached over the k collected
    * survivors only.
    */
  def textRankKeywords(docs: org.apache.spark.sql.DataFrame, window: Int,
      minCount: Long, iterations: Int, topK: Int,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(topK >= 1, s"topK: $topK")
    val co = cooccurrence(docs, window, minCount, textCol)
    // the pair set feeds the vocabulary rollup AND both sides of the id
    // join — pin it once so the corpus co-occurrence pass runs once (the
    // LPA/modularity shared-edge-checkpoint discipline)
    val und = co.select(col("a"), col("b"))
      .union(co.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .pinLazy()
    val words = und.select(col("a").as("w")).union(und.select(col("b").as("w")))
    val ids = graft.operators.Ranking.valueRanks(words, Nil, col("w"))
      .select(col("v").as("w"), col("dense_rnk").as("wid"))
    val edges = und
      .join(ids.withColumnRenamed("w", "a").withColumnRenamed("wid", "src_id"), "a")
      .join(ids.withColumnRenamed("w", "b").withColumnRenamed("wid", "dst_id"), "b")
      .select(col("src_id"), col("dst_id"))
    val pr = graft.operators.Graph.pageRank(edges, "src_id", "dst_id", iterations)
    pr.join(ids, pr("node_id") === ids("wid"))
      .select(col("w").as("word"), col("pr"))
      .orderBy(col("pr").desc, col("word").asc)
      .limit(topK)
      .withColumn("rnk", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("pr").desc, col("word").asc)).cast("long"))
  }

  /** Word n-gram shingles, distinct (the unit for Jaccard/minhash dedup).
    *
    * PERFORMANCE: `toks` must be a MATERIALIZED column (an attribute), not a
    * raw `split(...)` expression — Spark does no common-subexpression
    * elimination inside higher-order-function lambdas, so an inline split
    * would be recomputed per shingle position (O(tokens^2) per document).
    * Callers: `.select(tokens(col).as("toks"))` first, then shingle from
    * `col("toks")` in a SECOND projection (the multi-reference of a non-cheap
    * alias keeps CollapseProject from merging the two).
    */
  /** Raw word n-grams in position order (no distinct, no short-doc
    * fallback) — the ONE gram-construction recipe [[shinglesFromTokens]]
    * and [[repetitionStats]] both build on; empty for docs shorter than n
    * tokens. Same materialized-`toks` contract as the callers.
    */
  def ngramsFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n), i =>
        concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Adjacent token pairs as (w1, w2) STRUCTS — the bigram stream without
    * the per-element concat-then-substring_index round trip the string
    * n-gram form pays (two string allocations per bigram; measured ~1.9x
    * on the q217/q221 10M-bigram rollups at sf0.1). Value-identical to
    * splitting `ngramsFromTokens(toks, 2)`.
    */
  def bigramPairs(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2), i =>
        struct(element_at(toks, i + 1).as("w1"),
          element_at(toks, i + 2).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))

  def shinglesFromTokens(text: Column, toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) >= n, ngramsFromTokens(toks, n)).otherwise(array(text)))

  /** Convenience single-expression form — ONLY for tiny inputs/tests; see
    * shinglesFromTokens for the production two-projection shape.
    */
  def wordShingles(text: Column, n: Int): Column =
    shinglesFromTokens(text, tokens(text), n)

  /** Corpus n-gram counts (the count table under count-based LM smoothing,
    * n-gram novelty filters, and collocation mining; generalizes
    * [[cooccurrence]] from pairs to contiguous grams). One explode + one
    * partially-aggregated shuffle on the gram string — map-side combine
    * means the exchange carries distinct grams per task, not the
    * position-expanded stream. `minCount` bounds the long tail (hapax grams
    * dominate any corpus; filtering after the agg is exact).
    */
  def ngramCounts(docs: org.apache.spark.sql.DataFrame, n: Int, minCount: Long,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"n: $n")
    docs.select(tokens(col(textCol)).as("toks")) // materialized: no-CSE-in-lambdas
      .select(explode(ngramsFromTokens(col("toks"), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_gram"))
      .filter(col("n_gram") >= minCount)
  }

  /** CCNet-style count-based LM quality scoring (Wenzek et al. 2020,
    * arXiv:1911.00359): train a word-bigram model on the REFERENCE slice
    * (rows where `isRef` — CCNet uses Wikipedia) and score every document
    * by how surprising its bigrams are under that model. CCNet ranks by
    * perplexity; this keeps the equivalent ORDERING with exact-integer
    * "inverse probability" terms instead of log-space floats (the same
    * linearization [[graft.pipeline.Sampling.dsirWeights]] applies to its
    * likelihood ratios — ln() is not bit-identical across engines):
    * each bigram (w1,w2) contributes
    * term = (scale * (C(w1) + V)) div (C(w1,w2) + 1) — the integer
    * reciprocal of its add-1-smoothed conditional probability
    * p = (C(w1,w2)+1)/(C(w1)+V) — and a document's score is the
    * bigram-count-weighted mean term (div). High score = surprising under
    * the reference = low quality for CCNet's "keep what looks like
    * Wikipedia" gate.
    *
    * Shape: the model is two hash aggregates over the reference's bigram
    * stream (context counts + bigram counts, both map-side combined); V
    * (distinct continuations) is a one-row broadcast; scoring joins the
    * per-doc DISTINCT bigram roll-up against the model on the bigram key —
    * the per-occurrence stream never crosses an exchange unaggregated.
    * Unseen contexts degrade smoothly (C=0 rows via left join + coalesce).
    * Docs with fewer than 2 tokens have no bigrams and are absent, like
    * every bigram-based gate here.
    */
  def bigramLmScore(docs: org.apache.spark.sql.DataFrame, isRef: Column,
      scale: Long = 1000000L, idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(scale >= 1, s"scale: $scale")
    val bi = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"), isRef.as("__ref"),
        tokens(col(textCol)).as("__tk"))
      .select(col("doc_id"), col("__ref"),
        explode(ngramsFromTokens(col("__tk"), 2)).as("__g"))
      .select(col("doc_id"), col("__ref"),
        substring_index(col("__g"), " ", 1).as("__w1"), col("__g"))
    // ONE tokenize+explode pass (plan-audit r12: the model counts, the
    // context counts and the per-doc scoring each re-ran the corpus
    // explode — 3 passes, now 1): the reference-side model rolls up FROM
    // the pinned per-doc gram rollup (__ref rides the grouping — it is
    // functionally determined by doc_id, so cardinality is unchanged;
    // the q336 pinned-gram-pass precedent)
    val perDocR = bi.groupBy(col("doc_id"), col("__ref"), col("__w1"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .pinLazy()
    val refR = perDocR.filter(col("__ref"))
    val bigramCounts = refR.groupBy(col("__g")).agg(sum(col("__c")).as("__cbg"))
    val ctxCounts = refR.groupBy(col("__w1")).agg(sum(col("__c")).as("__cw1"))
    val vocab = bigramCounts.agg(
      count_distinct(substring_index(col("__g"), " ", -1)).as("__v"))
    val perDoc = perDocR.drop("__ref")
    perDoc
      .join(bigramCounts, Seq("__g"), "left")
      .join(ctxCounts, Seq("__w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__term", expr(
        s"($scale * (coalesce(__cw1, 0) + __v)) div (coalesce(__cbg, 0) + 1)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__c")).as("n_bigrams"),
        sum(col("__c") * col("__term")).as("score_sum"))
      .withColumn("lm_score", expr("score_sum div n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("lm_score"))
  }

  /** Byte-Pair-Encoding of ONE pre-token (Sennrich et al. 2016): start from
    * characters, apply each merge rule in RANK ORDER as one greedy
    * left-to-right pass (fold: merge when the accumulator's last symbol is
    * `a` and the incoming symbol is `b`). Sequential rank-order application
    * is exactly the classic lowest-rank-pair loop: a merge at rank r only
    * creates pairs involving its NEW symbol, and every rule mentioning that
    * symbol was necessarily learned — hence ranked — after r, so no
    * earlier-ranked pair can appear once rank r has passed.
    *
    * Pure Column fold over the merge table embedded as an array literal
    * (the broadcast-constant discipline of [[graft.pipeline.Dedup
    * .minhashSignature]]): expression depth is CONSTANT in the rule count —
    * one outer fold over rules, one inner fold over symbols — so a
    * 50k-rule production table plans the same shape as a 9-rule fixture.
    * Exact string ops only; encodings are bit-identical on any engine.
    * Per-word cost O(rules x len^2) from immutable array appends — for
    * huge merge tables a rank-indexed scan beats rule-order passes, but
    * that is a constant-factor trade, not a distribution one.
    */
  def bpeEncodeWord(word: Column, merges: Seq[(String, String)]): Column = {
    require(merges.nonEmpty, "empty merge table")
    require(merges.distinct == merges, s"duplicate merge rules: $merges")
    merges.foreach { case (a, b) =>
      require(a.nonEmpty && b.nonEmpty, s"empty symbol in merge rule ($a, $b)") }
    val mergesArr = array(merges.map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"), lit(a + b).as("ab")) }: _*)
    aggregate(mergesArr, split(word, ""), (syms, m) =>
      aggregate(syms, array().cast("array<string>"), (acc, s) =>
        // && short-circuits, so element_at never sees an empty array
        when(size(acc) > 0 &&
            element_at(acc, size(acc)) === m.getField("a") &&
            s === m.getField("b"),
          concat(slice(acc, lit(1), size(acc) - 1), array(m.getField("ab"))))
          .otherwise(concat(acc, array(s)))))
  }

  /** BPE tokenizer TRAINING (Sennrich et al. 2016, learn-side): greedily
    * learn `k` merge rules from the corpus — at each step, count every
    * adjacent symbol pair across the current encoding of the VOCABULARY
    * (weighted by word frequency, overlapping occurrences counted, exactly
    * the original algorithm's word-frequency-table formulation) and adopt
    * the most frequent pair, ties broken (count DESC, a ASC, b ASC) so the
    * learned table is engine-exact.
    *
    * Scale shape: the corpus collapses to the (word, freq) vocabulary in
    * ONE partial-agg shuffle; each learning step is then a bounded job
    * over vocab rows — re-encode with the rules so far ([[bpeEncodeWord]]'s
    * fold), explode adjacent pairs, partial-agg count, and collect exactly
    * ONE row (the argmax). Driver state is the k-row merge table, never
    * data. Re-encoding from scratch each step costs O(k^2 x vocab) folds —
    * the standard trade for keeping steps stateless; production tables
    * (k ~ 50k) would incrementalize the pair counts instead, a
    * constant-factor (not distribution) change.
    *
    * Returns the learned rules in rank order with their winning counts.
    */
  def bpeLearn(docs: org.apache.spark.sql.DataFrame, k: Int,
      textCol: String = "text"): Seq[(String, String, Long)] = {
    require(k >= 1 && k <= 1000, s"k: $k")
    val vocab = docs.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col("__w")).agg(count(lit(1)).as("__freq"))
      .pinLazy() // reused k times; keep the corpus scan out of the loop
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var step = 0
    var exhausted = false
    while (step < k && !exhausted) {
      val rules = learned.toSeq.map { case (a, b, _) => (a, b) }
      val syms = if (rules.isEmpty) split(col("__w"), "")
                 else bpeEncodeWord(col("__w"), rules)
      val best = vocab
        .select(col("__freq"), syms.as("__sym"))
        .filter(size(col("__sym")) >= 2)
        .select(col("__freq"), explode(transform(
          sequence(lit(1), size(col("__sym")) - 1), i =>
            struct(element_at(col("__sym"), i).as("a"),
              element_at(col("__sym"), i + 1).as("b")))).as("__p"))
        .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
        .agg(sum(col("__freq")).as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val r = best(0)
        learned += ((r.getString(0), r.getString(1), r.getLong(2)))
        step += 1
      }
    }
    learned.toSeq
  }

  /** Corpus-scale BPE: encode the distinct VOCABULARY once (the fold in
    * [[bpeEncodeWord]] is higher-order-function interpreted — per-word cost
    * is fine for a vocab table, ruinous per occurrence: a corpus repeats
    * each word millions of times), then broadcast the tiny vocab->symbols
    * table back onto position-exploded words and reassemble per doc.
    *
    * Output: doc_id, n_words, n_bpe_tokens, encoded (words " "-joined,
    * symbols `symSep`-joined) — byte-identical to encoding every occurrence
    * directly (encoding is a pure function of the word). NULL-text docs are
    * dropped; docs whose words are all empty strings emit (0, 0, "").
    *
    * Scale shape: one explode + distinct on words (the shuffle carries the
    * VOCAB, heavy-hitter words combine map-side), the fold runs |vocab|
    * times, the join is a broadcast, and the reassembly groupBy shuffles on
    * doc id. At 100 TB the vocab table is the only state that matters —
    * millions of rows against trillions of occurrences.
    */
  def bpeEncodeDocs(docs: org.apache.spark.sql.DataFrame,
      merges: Seq[(String, String)], symSep: String = "/",
      textCol: String = "text", idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    val words = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        posexplode(filter(col("__toks"), w => length(w) > 0)).as(Seq("__pos", "__w")))
    val vocab = words.select(col("__w")).distinct()
      .select(col("__w"), bpeEncodeWord(col("__w"), merges).as("__sym"))
    // keep the zero-word docs: LEFT join from a per-doc base would need a
    // second scan; instead re-derive them from the base and union the
    // all-empty case via the count coalesce below
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"))
    words.join(broadcast(vocab), Seq("__w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("__sym")).cast("long")).as("n_bpe_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__sym")))),
          p => array_join(p.getField("__sym"), symSep)), " ").as("encoded"))
      .join(base, Seq("doc_id"), "right")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        coalesce(col("encoded"), lit("")).as("encoded"))
  }

  /** Log-free BM25 term scores for a literal query over the corpus: one row
    * per (doc, term) with the BM25 term-frequency saturation
    * `tf_norm = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))` and the raw idf
    * odds ratio `(N - df + 0.5) / (df + 0.5)` — the standard formula WITHOUT
    * the final ln(): libm logs are not correctly-rounded across engines, and
    * since ln is monotone the ranking (and any threshold expressed in odds
    * space) is unchanged. Every double op here is a single IEEE
    * mul/div/add chain in a fixed order, so scores are bit-identical on any
    * engine. Callers wanting classic BM25 sum `ln(idf_odds + 1) * tf_norm`
    * per doc themselves.
    *
    * Scale shape: corpus stats (N, avgdl) are one bounded agg broadcast into
    * the plan; per-term df comes from a narrow (term-filtered!) doc rollup
    * that is broadcast onto the tf rows — query terms are few by definition,
    * so nothing wide ever shuffles: the tf table is pre-filtered to docs
    * containing at least one query term.
    */
  def bm25TermScores(docs: org.apache.spark.sql.DataFrame, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, textCol: String = "text",
      idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      s"queryTerms must be non-empty and distinct: $queryTerms")
    // the id keeps its source type: a cast("long") would NULL out string
    // ids and silently merge every such doc into one tf/df group
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks")).cast("long")).as("sum_dl"))
    // per-doc tf for each query term, docs with a hit only
    val tf = base
      .select(col("doc"), size(col("toks")).cast("long").as("dl"),
        explode(filter(col("toks"), t => t.isInCollection(queryTerms))).as("term"))
      .groupBy(col("doc"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    tf.join(broadcast(dfs), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") * lit(k1 + 1.0) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl))))
          .as("tf_norm"),
        ((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))).as("idf_odds"))
  }

  /** Coordinate-match retrieval ranking: docs scored by (number of distinct
    * query terms present, total matched-term occurrences), ties on doc id —
    * the exact-integer ranking [[prfRetrieve]] uses for both passes (BM25's
    * IEEE logs would break cross-engine hash parity; coordination-level
    * matching is the classic exact alternative and what Boolean-ish
    * retrieval stacks ship). `orderBy + limit` compiles to TakeOrdered —
    * no single-partition window.
    */
  def coordMatchTopK(docs: org.apache.spark.sql.DataFrame,
      queryTerms: Seq[String], topK: Int, textCol: String = "text",
      idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      s"queryTerms must be non-empty and distinct: $queryTerms")
    require(topK >= 1, s"topK: $topK")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        explode(filter(tokens(col(textCol)), t => t.isInCollection(queryTerms)))
          .as("term"))
      .groupBy(col("doc"))
      .agg(countDistinct(col("term")).as("n_matched"),
        count(lit(1)).as("total_tf"))
      .orderBy(col("n_matched").desc, col("total_tf").desc, col("doc").asc)
      .limit(topK)
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio/RM1 shape): run the
    * seed query, treat its top `fbDocs` results as relevant, mine them for
    * the `fbTerms` best expansion terms, and re-run the expanded query.
    * Expansion score is the exact integer `sum_tf * 1e6 div df` — feedback
    * evidence weighted by corpus rarity (the log-free tf-idf ordering, the
    * q221-lift discipline); terms seen in more than `maxDfMille`/1000 of
    * the corpus are stopword-filtered, seed terms excluded.
    *
    * The expansion term list is a BOUNDED driver collect (`fbTerms` rows —
    * the Clustering-centroid bound class); everything else is two
    * [[coordMatchTopK]] passes plus one corpus term-df rollup. Returns the
    * final ranking with rank attached: (doc, n_matched, total_tf, rnk).
    */
  def prfRetrieve(docs: org.apache.spark.sql.DataFrame,
      seedTerms: Seq[String], fbDocs: Int, fbTerms: Int, topK: Int,
      maxDfMille: Int = 100, textCol: String = "text",
      idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 1, s"fbDocs $fbDocs fbTerms $fbTerms")
    require(maxDfMille >= 1 && maxDfMille <= 1000, s"maxDfMille: $maxDfMille")
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
    val feedback = coordMatchTopK(docs, seedTerms, fbDocs, textCol, idCol)
      .select(col("doc"))
    // corpus df per term (distinct docs containing it) + total doc count
    val dfs = base.select(col("doc"), explode(array_distinct(col("toks"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = base.agg(count(lit(1)).as("n_docs"))
    val fbTf = base.join(broadcast(feedback), "doc")
      .select(explode(col("toks")).as("term"))
      .filter(length(col("term")) > 0 && !col("term").isInCollection(seedTerms))
      .groupBy(col("term")).agg(count(lit(1)).as("sum_tf"))
    val expansion = fbTf.join(dfs, "term")
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 1000L <= col("n_docs") * maxDfMille)
      .withColumn("score", expr("sum_tf * 1000000 div df"))
      .orderBy(col("score").desc, col("term").asc)
      .limit(fbTerms)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    val expanded = seedTerms ++ expansion
    coordMatchTopK(docs, expanded, topK, textCol, idCol)
      .withColumn("rnk", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("n_matched").desc, col("total_tf").desc,
          col("doc").asc)).cast("long"))
  }

  /** PII scrubbing patterns, deliberately engine-portable (plain character
    * classes + \b, identical under java.util.regex and RE2-family engines).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** Redact email- and phone-shaped spans with typed placeholders — the
    * pre-training PII scrub. Pure codegen'd regexp columns, one pass per
    * pattern, embarrassingly parallel.
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  def piiCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")

  /** Deterministic pseudonymization: a salted md5 token (`pfx_<16 hex>`)
    * that is CONSISTENT for equal inputs — joins, group-bys, and
    * frequency analysis still work across pseudonymized tables sharing a
    * salt, which is exactly what [[redactPii]]'s destructive placeholders
    * cannot offer. The salt is the secrecy boundary (same threat model as
    * every keyed tokenization): without it the token is a one-way hash of
    * the value; NULL stays NULL (absence is not an identity).
    * Engine-portable (md5 + hex substring — the surrogate-key recipe), a
    * pure codegen'd column, no shuffle.
    */
  def pseudonymize(value: Column, salt: String, prefix: String = "p"): Column =
    when(value.isNotNull,
      concat(lit(prefix + "_"),
        substring(md5(concat(value.cast("string"), lit("|" + salt))), 1, 16)))

  /** Count of the MOST FREQUENT token (the Gopher "top-1-gram" signal),
    * computed without a shuffle: one pass over the SORTED token array
    * tracking (previous token, current run, best run). `toks` must be a
    * materialized attribute (no-CSE-in-lambdas rule, see
    * [[shinglesFromTokens]]); the sort is per-row, O(n log n) in tokens.
    */
  def topTokenCount(toks: Column): Column = {
    // NUL sentinel written as an escape (a raw control byte makes the file
    // binary to git); harmless even if a token IS NUL: run = 0+1 = 1 on
    // either branch of the first fold step
    val zero = struct(lit("\u0000").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    val folded = aggregate(array_sort(toks), zero, (acc, t) => {
      val run = when(t === acc.getField("prev"), acc.getField("run") + 1L).otherwise(lit(1L))
      struct(t.as("prev"), run.as("run"),
        greatest(acc.getField("best"), run).as("best"))
    })
    folded.getField("best")
  }

  /** Gopher-style per-document repetition stats (Rae et al. 2021, §A1.1):
    * the fraction of tokens taken by the single most frequent token, and the
    * fraction of n-gram occurrences that are repeats of an earlier n-gram.
    * Heavily repetitive machine-generated or boilerplate docs score high on
    * both; a quality gate drops docs above caller-chosen thresholds.
    *
    * Pure Column combinators — per-doc arithmetic only, no shuffle, scales
    * as a map over the corpus. All counts are exact integers; the two
    * divisions are the only doubles (engine-portable).
    *
    * Returns a struct(top_token_frac, dup_ngram_frac); zero-token docs and
    * docs shorter than n grams yield 0.0 fractions (nothing repeats).
    */
  def repetitionStats(toks: Column, n: Int = 2): Column = {
    require(n >= 1, s"n: $n")
    val total = size(toks)
    val grams = ngramsFromTokens(toks, n)
    val nGrams = size(grams)
    val topFrac = when(total > 0,
      topTokenCount(toks).cast("double") / total.cast("double")).otherwise(lit(0.0))
    val dupFrac = when(nGrams > 0,
      (nGrams - size(array_distinct(grams))).cast("double") / nGrams.cast("double"))
      .otherwise(lit(0.0))
    struct(topFrac.as("top_token_frac"), dupFrac.as("dup_ngram_frac"))
  }

  /** The Gopher stopword set (Rae et al. 2021, §A1.1): a doc must contain
    * at least two of these to pass the stopword rule.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document-quality signals (Rae et al. 2021, §A1.1): word
    * count, mean word length, fraction of words with an alphabetic
    * character, symbol-to-word ratio (`#` / `...`), and distinct-stopword
    * hits. Line-level rules (bullet/ellipsis line fractions) are omitted —
    * the corpus is single-line; they'd be constant.
    *
    * Pure per-row Column arithmetic (no shuffle, map-parallel at any
    * scale); all counts are exact integers and each ratio is a single
    * int/int IEEE division, so every metric reproduces bit-identically on
    * any engine. NULL text yields the all-zero row (callers gate it out via
    * the word-count bound).
    *
    * `toks` must be a materialized attribute (no-CSE-in-lambdas rule, see
    * [[shinglesFromTokens]]).
    */
  def gopherStats(text: Column, toks: Column,
      stopwords: Seq[String] = GopherStopwords): Column = {
    val n = when(text.isNull, lit(0L)).otherwise(size(toks).cast("long"))
    val sumLen = aggregate(toks, lit(0L), (a, t) => a + length(t).cast("long"))
    val meanLen = when(n > 0, sumLen.cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
    val alphaWords = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val fracAlpha = when(n > 0, alphaWords.cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
    val symbols = regexp_count(text, lit("#|\\.\\.\\.")).cast("long")
    val symbolRatio = when(n > 0, symbols.cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
    val hits = when(n > 0,
      size(filter(array(stopwords.map(lit): _*), w => array_contains(toks, w)))
        .cast("long")).otherwise(lit(0L))
    struct(n.as("n_words"), meanLen.as("mean_word_len"),
      fracAlpha.as("frac_alpha_words"), symbolRatio.as("symbol_ratio"),
      hits.as("stopword_hits"))
  }

  /** The Gopher quality gate over [[gopherStats]] output — every rule must
    * hold. Defaults are the published thresholds except `minWords` (the
    * paper's 50; callers tune per-corpus).
    */
  def gopherPass(stats: Column, minWords: Long = 50, maxWords: Long = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minFracAlpha: Double = 0.8,
      minStopwordHits: Long = 2): Column =
    stats.getField("n_words").between(minWords, maxWords) &&
      stats.getField("mean_word_len").between(minMeanLen, maxMeanLen) &&
      stats.getField("symbol_ratio") <= maxSymbolRatio &&
      stats.getField("frac_alpha_words") >= minFracAlpha &&
      stats.getField("stopword_hits") >= minStopwordHits

  /** Fixed-size token chunking with overlap (the context-window packing
    * primitive): consecutive `chunkTokens`-token windows advancing by
    * `stride` tokens; the tail window may be shorter. Returns an array of
    * (chunk_id, chunk, n_tokens) structs — `explode` it for one row per
    * chunk. All arithmetic is exact integers, so chunk boundaries reproduce
    * identically on any engine.
    *
    * `toks` must be a materialized attribute (same no-CSE-in-lambdas rule as
    * [[shinglesFromTokens]]).
    */
  def chunksFromTokens(toks: Column, chunkTokens: Int, stride: Int): Column = {
    require(chunkTokens >= 1 && stride >= 1 && stride <= chunkTokens,
      s"chunkTokens=$chunkTokens stride=$stride")
    // nChunks = 1 for n <= chunk, else 1 + ceil((n - chunk) / stride) —
    // integer ceil-div keeps both engines bit-identical
    val n = size(toks)
    // ceil-div on exact small ints via double floor (IEEE-exact below 2^53)
    val nChunks = when(n <= chunkTokens, lit(1))
      .otherwise(lit(1) +
        floor((n - chunkTokens + stride - 1).cast("double") / lit(stride)).cast("int"))
    transform(sequence(lit(0), nChunks - 1), i => struct(
      i.cast("long").as("chunk_id"),
      concat_ws(" ", slice(toks, i * stride + 1, lit(chunkTokens))).as("chunk"),
      least(lit(chunkTokens), n - i * stride).cast("long").as("n_tokens")))
  }

  /** HTML -> text: the first op of every web-corpus pipeline. Drops
    * script/style/comment blocks (content and all — `1 < 2` inside a
    * script must not survive as text), then tags, then decodes the six
    * HTML entities that dominate real corpora, then collapses whitespace.
    * Pure `regexp_replace`/`replace` chain — codegen'd, no UDF, and every
    * pattern is written in the regex subset Java and RE2 share
    * (`[\s\S]*?` instead of DOTALL-mode `.`), so a SQL oracle can run the
    * identical chain. `&amp;` decodes LAST: real encoders escape `&`
    * first, so `&amp;lt;` means a literal "&lt;", not "<".
    */
  def stripHtml(html: Column): Column = {
    val noScript = regexp_replace(html, "<script[^>]*>[\\s\\S]*?</script>", " ")
    val noStyle = regexp_replace(noScript, "<style[^>]*>[\\s\\S]*?</style>", " ")
    val noComment = regexp_replace(noStyle, "<!--[\\s\\S]*?-->", " ")
    // tags become spaces so `</td><td>` doesn't weld adjacent cell text
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Main-content extraction, jusText-style line heuristic: a line of a
    * stripped page is CONTENT if it has at least `minWords` words and at
    * least one function word (`stopwords`) — navigation chrome
    * ("Home | About | Contact"), copyright footers, and button labels
    * fail one or both. Splits on `lineSep`, filters, rejoins: a pure
    * narrow map over the text column, no shuffle, scan-prunable.
    */
  def mainContent(text: Column, stopwords: Seq[String],
      minWords: Int = 4, lineSep: String = "\n"): Column = {
    require(minWords >= 1, s"minWords: $minWords")
    require(stopwords.nonEmpty, "stopwords must be non-empty")
    val sw = array(stopwords.map(s => lit(s.toLowerCase)): _*)
    val kept = filter(split(text, java.util.regex.Pattern.quote(lineSep)), line => {
      val words = filter(split(trim(line), " +"), w => length(w) > 0)
      size(words) >= minWords && arrays_overlap(transform(words, lower _), sw)
    })
    array_join(kept, lineSep)
  }

  /** Corpus-frequency boilerplate-line removal (the CCNet recipe, Wenzek
    * et al. 2020): a line that appears in at least `minDocFreq` DISTINCT
    * documents is boilerplate ("Subscribe to our newsletter", cookie
    * banners, copyright footers) and is dropped from every document;
    * surviving lines reassemble in original order. Distinct from
    * paragraph dedup (q91), which keeps FIRST occurrences — boilerplate
    * removal keeps none.
    *
    * Shape: one posexplode + distinct-doc count shuffled on the line
    * value (near-uniform keys — boilerplate lines are the hot ones, and
    * they aggregate to a single row each), one join back on the line,
    * one per-doc regroup. Returns (idCol, text) with the cleaned text;
    * a document whose every line was boilerplate has nothing left and is
    * DROPPED from the output, not emitted empty.
    */
  def dropFrequentLines(docs: org.apache.spark.sql.DataFrame, minDocFreq: Long,
      textCol: String = "text", idCol: String = "doc_id",
      lineSep: String = "\n"): org.apache.spark.sql.DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq: $minDocFreq (1 would drop every line)")
    val lines = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(
        split(col(textCol), java.util.regex.Pattern.quote(lineSep)))
        .as(Seq("__pos", "__line")))
    val frequent = lines.groupBy(col("__line"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select(col("__line"))
    lines.join(frequent, Seq("__line"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(array_sort(collect_list(
        struct(col("__pos"), col("__line")))).getField("__line"), lineSep)
        .as(textCol))
  }

  /** URL canonicalization for crawl dedup/joins: one canonical string per
    * logical resource. Lowercases scheme and host (NOT userinfo, which is
    * case-sensitive and preserved verbatim), strips the scheme's default
    * port (:80 http, :443 https) and any trailing FQDN dot on the host,
    * drops the fragment, and sorts query parameters byte-wise
    * (`a=1&b=2` == `b=2&a=1`). Path case and param VALUES are preserved —
    * they are semantic. Pure `regexp_extract`/`array_sort` composition,
    * engine-portable.
    */
  def canonicalizeUrl(url: Column): Column = {
    val pat = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#[\\s\\S]*)?$"
    val scheme = lower(regexp_extract(url, pat, 1))
    val auth = regexp_extract(url, pat, 2)
    // userinfo ends at the first '@' (a raw '@' cannot appear in a host);
    // reading the authority naively would let user:pass@blocked.host slip
    // past host-based comparisons
    val userinfo = regexp_extract(auth, "^([^@]*@)", 1)
    val hostPort = regexp_replace(auth, "^[^@]*@", "")
    val host = regexp_replace(
      lower(regexp_replace(hostPort, ":[0-9]*$", "")), "\\.$", "")
    val port = regexp_extract(hostPort, ":([0-9]+)$", 1)
    val portSuffix = when(scheme === "http" && port === "80", lit(""))
      .when(scheme === "https" && port === "443", lit(""))
      .when(port =!= "", concat(lit(":"), port))
      .otherwise(lit(""))
    val path = regexp_extract(url, pat, 3)
    val query = regexp_extract(url, pat, 4)
    val sortedQuery = array_join(array_sort(split(query, "&")), "&")
    // unparseable urls (no scheme://host) pass through untouched — a
    // quarantine-filter upstream decides their fate, not a silent rewrite
    when(regexp_extract(url, pat, 1) === "", url)
      .otherwise(concat(scheme, lit("://"), userinfo, host, portSuffix, path,
        when(length(sortedQuery) > 0, concat(lit("?"), sortedQuery))
          .otherwise(lit(""))))
  }

  /** Flesch reading-ease in exact integer MILLI points:
    * `206.835 - 1.015·(words/sentences) - 84.6·(syllables/words)` becomes
    * `206835 - 1015·w div s - 84600·y div w` (truncating integer div —
    * documented, deterministic on any engine). Counting rules, all
    * SQL-mirrorable: words = non-empty space tokens; sentences = non-blank
    * `[.!?]+` segments, clamped >= 1 so punctuation-free text scores
    * rather than divides by zero; syllables = vowel-GROUP count (the
    * classic approximation — "beautiful" = eau+i+u = 3; vowel-less tokens
    * contribute 0). Pure per-row Column math: a narrow map a 100 TB scan
    * absorbs, no shuffle, no UDF.
    */
  def nWords(text: Column): Column =
    size(filter(tokens(text), t => length(t) > 0)).cast("long")

  def nSentences(text: Column): Column =
    greatest(size(filter(split(text, "[.!?]+"), s => length(trim(s)) > 0)),
      lit(1)).cast("long")

  def nSyllables(text: Column): Column =
    size(regexp_extract_all(text, lit("[aeiouyAEIOUY]+"), lit(0))).cast("long")

  def fleschMilli(words: Column, sentences: Column, syllables: Column): Column =
    lit(206835L) - call_function("div", lit(1015L) * words, sentences) -
      call_function("div", lit(84600L) * syllables, words)

  /** Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995) with
    * the rational discount D = 3/4, in EXACT integer arithmetic:
    *
    *   p(w2|w1) = max(c(w1,w2) - D, 0)/c(w1)
    *            + D·N1+(w1·)/c(w1) · N1+(·w2)/NB
    *
    * where N1+(w1·) counts distinct continuations of w1, N1+(·w2) counts
    * distinct left contexts of w2 (the "how many contexts has this word
    * completed" novelty signal that makes KN beat add-k), and NB is the
    * corpus bigram-type count. Over the common denominator 4·c(w1)·NB the
    * numerator is `max(4c-3, 0)·NB + 3·N1+(w1·)·N1+(·w2)` — pure BIGINT,
    * rendered as `p_ppm = num·1e6 div den`, so the model hash-compares on
    * any engine (a float KN cannot). BIGINT headroom: num·1e6 needs
    * 4·c·NB·1e6 < 2^63, i.e. c·NB < 2.3e12 — fine for any single-machine
    * corpus; a 100 TB vocabulary moves the num/den math to DECIMAL(38,0).
    *
    * Shape: one bigram-stream rollup (map-side combined) to bigram TYPES;
    * everything after operates on that much smaller type table — two
    * keyed rollups (by w1, by w2), one 1-row broadcast, joins keyed on
    * w1/w2. Raw text never shuffles twice.
    */
  def kneserNeyBigrams(docs: org.apache.spark.sql.DataFrame,
      textCol: String = "text", minCount: Long = 1L): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"minCount: $minCount")
    // tokenize is CPU-bound per row — spread a single-split input first
    // (graft.sources.Sources.fanOut scaladoc; measured q217 3.4 -> 1.0 s)
    val bi = graft.sources.Sources.fanOut(docs).filter(col(textCol).isNotNull)
      .select(explode(bigramPairs(tokens(col(textCol)))).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
    // Pin the type rollup: it feeds FOUR subtrees (byW1, byW2, nb, the
    // final join) and without the pin the explode+rollup over raw text
    // recomputes per branch (r9 bench: 5.3 s -> the recompute was most of
    // it). Lazy localCheckpoint = materialized once on first use.
    val types = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .pinLazy()
    val byW1 = types.groupBy(col("w1"))
      .agg(sum(col("c")).as("__cw1"), count(lit(1)).as("__n1r"))
    val byW2 = types.groupBy(col("w2")).agg(count(lit(1)).as("__n1l"))
    val nb = types.agg(count(lit(1)).as("__nb"))
    types
      .join(byW1, Seq("w1"))
      .join(byW2, Seq("w2"))
      .crossJoin(broadcast(nb))
      .filter(col("c") >= minCount)
      .withColumn("p_ppm", expr(
        "(1000000L * (greatest(4L*c - 3L, 0L) * __nb + 3L * __n1r * __n1l))" +
          " div (4L * __cw1 * __nb)"))
      .select(col("w1"), col("w2"), col("c"), col("p_ppm"))
  }

  /** Vocabulary coverage curve: for each candidate vocabulary size, the
    * exact share of TOKEN OCCURRENCES covered by the top-`v` most frequent
    * types — the tokenizer-design readout (pick the smallest vocab whose
    * coverage clears the OOV budget; the curve's knee is where a bigger
    * vocab stops paying). Ranking is (count desc, token asc) — a unique
    * total order, so the curve is engine-deterministic even through count
    * ties.
    *
    * The global rank uses [[graft.operators.Ranking.globalRowNumbers]]
    * (range-partitioned, NO single-partition window) — at 100 TB the type
    * table is millions of rows and a bare `row_number() OVER (ORDER BY)`
    * would funnel it through one task. The ranked type table is pinned
    * once; each size's coverage is a tiny agg over it.
    */
  def vocabCoverage(df: org.apache.spark.sql.DataFrame, textCol: Column,
      vocabSizes: Seq[Int]): org.apache.spark.sql.DataFrame = {
    require(vocabSizes.nonEmpty && vocabSizes == vocabSizes.sorted &&
      vocabSizes.distinct == vocabSizes && vocabSizes.head >= 1,
      s"vocabSizes must be ascending positive: $vocabSizes")
    // single-split inputs: spread the tokenize (Sources.fanOut scaladoc)
    val counts = graft.sources.Sources.fanOut(df).filter(textCol.isNotNull)
      .select(explode(tokens(textCol)).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val ranked = graft.operators.Ranking
      .globalRowNumbers(counts, Seq(col("cnt").desc, col("tok").asc), "rk")
      .pinLazy()
    vocabSizes.map { v =>
      ranked.agg(
          coalesce(sum(when(col("rk") < v, col("cnt"))), lit(0L))
            .as("covered"),
          coalesce(sum(col("cnt")), lit(0L)).as("total"))
        .select(lit(v).as("vocab_size"), col("covered"), col("total"),
          when(col("total") > 0L,
            call_function("div", col("covered") * 1000000L, col("total")))
            .as("coverage_ppm"))
    }.reduce(_ unionByName _)
  }

  /** Vocabulary growth curve (the empirical Heaps'-law points): distinct
    * type count after ingesting the first 10%, 20%, ... of documents in
    * a declared deterministic order — the "will the vocab keep exploding
    * at 10x corpus" extrapolation input for tokenizer budgeting, and the
    * saturation check for [[vocabCoverage]]'s chosen sizes. Exact via
    * first-occurrence ranks, NO sequential scan: a token is in the
    * prefix-k vocabulary iff its EARLIEST document (by the order column)
    * falls inside the prefix, so one (token -> min order) rollup answers
    * every checkpoint.
    *
    * Checkpoints are per-mille document-count cuts: prefix size
    * `ceil(share * n_docs / 1000)`, the boundary document resolved from a
    * (order -> doc rank) rollup via [[graft.operators.Ranking]]-style
    * cross-multiplied rank tests — orderCol must be a unique total order
    * (doc ids). Shape: one explode rollup, one doc rollup, a tiny
    * checkpoint cross join; token order never sorts raw rows.
    */
  def vocabGrowth(df: org.apache.spark.sql.DataFrame, orderCol: Column,
      textCol: Column, sharesMille: Seq[Int], n: Int = 1): org.apache.spark.sql.DataFrame = {
    require(sharesMille.nonEmpty && sharesMille == sharesMille.sorted &&
      sharesMille.distinct == sharesMille &&
      sharesMille.head >= 1 && sharesMille.last <= 1000,
      s"sharesMille must be ascending in [1, 1000]: $sharesMille")
    require(n >= 1 && n <= 8, s"n: $n")
    // single-split inputs: spread the tokenize (Sources.fanOut scaladoc)
    val docs = graft.sources.Sources.fanOut(df).filter(textCol.isNotNull)
      .select(orderCol.cast("long").as("__ord"), textCol.as("__text"))
      .pinLazy() // feeds the doc-rank rollup AND the explode
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    // rank of each doc in __ord order, from a distinct-order rollup via
    // range-partitioned row numbers (never a single-partition window)
    val ranked = graft.operators.Ranking.globalRowNumbers(
        docs.select(col("__ord")).distinct(), Seq(col("__ord").asc), "__rk0")
      .withColumn("__rk", col("__rk0") + 1L).drop("__rk0")
    val grams =
      if (n == 1) tokens(col("__text"))
      else ngramsFromTokens(tokens(col("__text")), n)
    val firstSeen = docs
      .select(col("__ord"), explode(grams).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(min(col("__ord")).as("__ord"))
      .join(ranked, Seq("__ord"))
    val spark = df.sparkSession
    import spark.implicits._
    val cutDf = sharesMille.toDF("share_mille")
    firstSeen.crossJoin(broadcast(cutDf)).crossJoin(broadcast(nDocs))
      // prefix size ceil(share * n / 1000): token counted iff
      // rk <= that, i.e. (rk - 1) * 1000 < share * n
      .filter((col("__rk") - 1L) * 1000L <
        col("share_mille").cast("long") * col("__n"))
      .groupBy(col("share_mille"))
      .agg(max(col("__n")).as("n_docs"), count(lit(1)).as("vocab_size"))
  }

  /** ROUGE-N recall (Lin 2004, "ROUGE: A Package for Automatic Evaluation
    * of Summaries") between a candidate and a reference text ON THE SAME
    * ROW: the share of the reference's n-grams the candidate covers, with
    * CLIPPED counts (`sum over distinct grams of min(cand_cnt, ref_cnt)`
    * — a candidate repeating one gram cannot farm recall). Exact:
    * integer gram counts, one non-negative truncating ppm division per
    * document. References shorter than n tokens have no grams and emit
    * no row (undefined recall, not zero).
    *
    * Shape: two explode -> (id, gram) partial-agg rollups, one equi-join
    * on (id, gram) — the reference side left-joins so unmatched grams
    * still count the denominator — then an id-keyed rollup. Everything
    * is keyed by (doc, gram); nothing pairwise across documents.
    */
  def rougeNRecall(df: org.apache.spark.sql.DataFrame, idCol: Column,
      candCol: Column, refCol: Column, n: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1 && n <= 8, s"n: $n")
    def grams(c: Column) = ngramsFromTokens(tokens(c), n)
    // Optimization r15 (guide §2.4 remove shuffles / §2.3 aggregate before
    // you shuffle): the previous form materialized both gram arrays
    // (localCheckpoint), exploded each side separately, built two
    // (doc, gram) rollups and joined them — two gram-volume shuffles plus
    // a join. Both sides collapse into ONE explode by tagging each gram
    // with which side it came from (ref grams carry __r=1, candidate grams
    // __r=0) and splitting the counts inside a single (doc, gram) rollup:
    //   cnt_r = sum(__r), cnt_c = sum(1 - __r)
    // `least(cnt_c, cnt_r)` then sums exactly the clipped matches the
    // join produced; grams present only on the candidate side contribute
    // 0 to both sums (least(cnt_c, 0) = 0) — the left join's semantics —
    // and docs whose REF side produced no grams are dropped by the
    // ref_ngrams > 0 filter, as the join-from-ref side dropped them.
    // One tokenize pass, one shuffle, no checkpoint, no join.
    // Before/after numbers: OPTIMIZATION_r15.md. The one pass is
    // tokenize-bound — spread a single-split input (Sources.fanOut
    // scaladoc).
    val tagged = graft.sources.Sources.fanOut(df).filter(refCol.isNotNull)
      .select(idCol.cast("long").as("doc_id"),
        explode(concat(
          transform(grams(refCol), g => struct(g.as("g"), lit(1L).as("__r"))),
          transform(grams(candCol), g => struct(g.as("g"), lit(0L).as("__r")))))
          .as("__e"))
      .select(col("doc_id"), col("__e.g").as("g"), col("__e.__r").as("__r"))
    tagged
      .groupBy(col("doc_id"), col("g"))
      .agg(sum(col("__r")).as("cnt_r"), sum(lit(1L) - col("__r")).as("cnt_c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt_r")).as("ref_ngrams"),
        sum(least(col("cnt_c"), col("cnt_r"))).as("matched"))
      .filter(col("ref_ngrams") > 0L)
      // greatest(..., 1) only shields rows the filter drops from a
      // reordered ANSI division (the q436 lesson); kept rows always have
      // ref_ngrams >= 1, so the emitted value is unchanged
      .withColumn("rouge_recall_ppm",
        call_function("div", col("matched") * 1000000L,
          greatest(col("ref_ngrams"), lit(1L))))
  }

  /** Vocabulary-richness estimators over the n-gram frequency spectrum —
    * the dataset-card "how much vocabulary exists beyond what we saw":
    * Chao1 `S_obs + f1^2/(2*f2)` (NULL when no doubletons), its
    * bias-corrected form `S_obs + f1*(f1-1)/(2*(f2+1))` (always defined),
    * and the Good-Turing unseen-mass estimate `f1/N` in ppm (the
    * probability the NEXT n-gram is novel). All exact integers from one
    * gram rollup plus a frequency-of-frequencies rollup of THAT rollup.
    * One row: (n_tokens, s_obs, f1, f2, chao1, chao1_bc,
    * unseen_mass_ppm).
    */
  def vocabRichness(docs: org.apache.spark.sql.DataFrame, n: Int,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(n >= 1 && n <= 8, s"n: $n")
    // single-split inputs: spread the tokenize (Sources.fanOut scaladoc;
    // measured q418 4.9 -> 1.0 s)
    val counts = graft.sources.Sources.fanOut(docs)
      .filter(col(textCol).isNotNull)
      .select(explode(ngramsFromTokens(tokens(col(textCol)), n)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
    counts.agg(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("s_obs"),
      sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
      sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1",
        when(col("f2") > 0L,
          col("s_obs") + call_function("div", col("f1") * col("f1"),
            lit(2L) * col("f2"))))
      .withColumn("chao1_bc",
        col("s_obs") + call_function("div",
          col("f1") * (col("f1") - 1L), lit(2L) * (col("f2") + 1L)))
      .withColumn("unseen_mass_ppm",
        when(col("n_tokens") > 0L,
          call_function("div", col("f1") * 1000000L, col("n_tokens"))))
  }

  /** Good-Turing discount table over the n-gram frequency spectrum (the
    * Katz-backoff machinery): for each raw count `c` up to `maxC`, the
    * count-of-counts `N_c`, `N_{c+1}`, and the discounted count
    * `c* = (c+1) * N_{c+1} / N_c` in exact milli (one truncating
    * division). Rows exist only for observed `c` (an absent spectrum
    * point has no defined discount). Frequency-of-frequencies is a
    * rollup OF the gram rollup — spectrum-bounded.
    */
  def goodTuringDiscounts(docs: org.apache.spark.sql.DataFrame, n: Int,
      maxC: Int = 10, textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(n >= 1 && n <= 8 && maxC >= 1, s"n: $n maxC: $maxC")
    // single-split inputs: spread the tokenize (Sources.fanOut scaladoc)
    val counts = graft.sources.Sources.fanOut(docs)
      .filter(col(textCol).isNotNull)
      .select(explode(ngramsFromTokens(tokens(col(textCol)), n)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
    val spectrum = counts.groupBy(col("c")).agg(count(lit(1)).as("n_c"))
    spectrum.filter(col("c") <= maxC.toLong)
      .join(spectrum.select((col("c") - 1L).as("c"),
        col("n_c").as("n_next")), Seq("c"), "left")
      .select(col("c"), col("n_c"), coalesce(col("n_next"), lit(0L))
        .as("n_next"))
      .withColumn("cstar_milli",
        call_function("div",
          (col("c") + 1L) * col("n_next") * 1000L, col("n_c")))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010) per document: candidate
    * phrases are maximal runs of non-stopword tokens (stopwords and empty
    * tokens are boundaries); each word scores `degree/frequency` within
    * its document (degree = summed length of the phrases it appears in,
    * frequency = its occurrence count among candidates) and a phrase
    * scores the sum of its word scores — long multi-word technical
    * phrases outrank frequent isolated words, which is exactly what the
    * [[textRankKeywords]] co-occurrence graph buys at 10x the cost.
    * Identical candidate phrases within a document aggregate to ONE row
    * with an `n_occurrences` count (canonical RAKE granularity).
    * Exact arithmetic: word scores are ONE truncating milli division
    * `deg * 1000 div freq` each; a phrase score is an integer SUM of
    * those (integer sums commute — no float accumulation order).
    *
    * Scale shape: one posexplode (linear in tokens), a per-document
    * position window (document-bounded, the sessionize convention), two
    * (doc, word) rollups, one keyed join back — no corpus-global
    * structure at all; documents process fully in parallel.
    */
  def rakeKeyphrases(docs: org.apache.spark.sql.DataFrame, idCol: Column,
      textCol: Column, stopwords: Seq[String],
      minWords: Int = 1): org.apache.spark.sql.DataFrame = {
    require(stopwords.nonEmpty, "rakeKeyphrases needs a stopword list")
    require(minWords >= 1, s"minWords: $minWords")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__doc")).orderBy(col("__pos").asc)
    val toks = docs.filter(textCol.isNotNull)
      .select(idCol.as("__doc"), posexplode(tokens(textCol))
        .as(Seq("__pos", "__w")))
      .withColumn("__stop",
        lower(col("__w")).isInCollection(stopwords) || col("__w") === "")
      .withColumn("__seg",
        sum(when(col("__stop"), 1L).otherwise(0L)).over(w))
    val words = toks.filter(!col("__stop"))
      .select(col("__doc"), col("__seg"), col("__pos"),
        lower(col("__w")).as("__w"))
      .pinLazy() // feeds phrase lengths, word stats, and scores
    val phLen = words.groupBy(col("__doc"), col("__seg"))
      .agg(count(lit(1)).as("__len"))
    val wordStats = words.join(phLen, Seq("__doc", "__seg"))
      .groupBy(col("__doc"), col("__w"))
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
      .withColumn("__score",
        call_function("div", col("__deg") * 1000L, col("__freq")))
    words.join(wordStats, Seq("__doc", "__w"))
      .groupBy(col("__doc"), col("__seg"))
      .agg(
        array_join(transform(sort_array(collect_list(
          struct(col("__pos"), col("__w")))), x => x("__w")), " ")
          .as("phrase"),
        count(lit(1)).as("n_words"),
        sum(col("__score")).as("score_milli"))
      .filter(col("n_words") >= minWords.toLong)
      // canonical RAKE (Rose 2010) aggregates identical candidate
      // phrases within a document: identical strings carry identical
      // n_words and score_milli by construction (same words, same
      // per-doc word stats), so max() just picks THE value while
      // n_occurrences counts the runs (r11 advisor: per-occurrence rows
      // inflated downstream counts)
      .groupBy(col("__doc"), col("phrase"))
      .agg(max(col("n_words")).as("n_words"),
        max(col("score_milli")).as("score_milli"),
        count(lit(1)).as("n_occurrences"))
      .select(col("__doc").as("doc_id"), col("phrase"), col("n_words"),
        col("score_milli"), col("n_occurrences"))
  }
}
