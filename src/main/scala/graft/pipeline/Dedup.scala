package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Pin
import graft.engine.Pin.PinOps

/** Document deduplication family for training-data pipelines (builder brief):
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash. Embedding
  * near-dup lives in [[Similarity.nearDupPairs]].
  *
  * Scale notes: exact dedup is one shuffle on the content hash. Pairwise
  * Jaccard is only run inside blocking keys (never globally). MinHash/LSH is
  * the 100 TB path: signature computation is embarrassingly parallel, the
  * band bucket-join shuffles on (band, value) — candidate volume is tunable
  * via bands x rows-per-band, never O(N^2).
  */
object Dedup {

  /** Exact duplicates: group by normalized content hash.
    * Output: content_hash, canonical_id (min id), n_copies.
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(col(textCol)).as("content_hash"))
      // cast BEFORE min: a string id column would otherwise pick the
      // lexicographic minimum ("10" < "9")
      .agg(min(col(idCol).cast("long")).as("canonical_id"),
           count(lit(1)).as("n_copies"))

  /** Jaccard over distinct word-shingle sets: |A ∩ B| / |A u B|, exact
    * integer sizes -> one double division (engine-portable).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a).cast("double") + size(b).cast("double") - inter)
  }

  /** Pairwise n-gram Jaccard within a blocking column. Output:
    * block, id_a, id_b (a<b), jaccard.
    *
    * Candidate generation is an AllPairs/PPJoin prefix-filter join (Bayardo
    * et al., WWW'07), not an all-pairs cross join: shingle sets are sorted
    * into a canonical global order, and any pair with J >= t must contain its
    * SMALLEST common shingle within the first `n - ceil(t*n) + 1` shingles of
    * BOTH sets (if it sat later in either, the >= ceil(t*n) required common
    * shingles could not fit in the remaining suffix). Equi-joining the
    * exploded prefixes on (block, shingle) therefore finds every qualifying
    * pair — EXACT, verified with the true Jaccard afterwards. The per-block
    * O(N^2) cross join becomes a join keyed on near-unique shingles: at
    * corpus scale the shuffle is by shingle (uniform), not by block (hot
    * blocks explode), and candidate volume tracks the real duplicate rate.
    */
  def ngramJaccardPairs(docs: DataFrame, blockCol: String, n: Int, threshold: Double,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // fp guard: ceil(n*t) computed in doubles can land one ULP ABOVE the exact
    // integer and shorten the prefix by 1 — a silent recall hole. The epsilon
    // only ever LENGTHENS the prefix (more candidates, all re-verified).
    val prefixLen = (col("n_sh") - ceil(col("n_sh") * threshold - lit(1e-9)) + 1).cast("int")
    // NULL text contract: a NULL-text doc still participates — its shingle set
    // is a single sentinel shingle, so two NULL-text docs in one block pair at
    // jaccard 1.0 (array_intersect treats NULLs as equal in the old cross-join
    // form; an equi-join on a NULL key would silently drop them instead).
    val safeText = coalesce(col(textCol), lit("\u0000<null-doc>"))
    val sh = docs.select(col(blockCol), col(idCol).cast("long").as("id"),
        safeText.as("__text"), TextAnalysis.tokens(safeText).as("__toks"))
      .select(col(blockCol), col("id"),
        array_sort(TextAnalysis.shinglesFromTokens(col("__text"), col("__toks"), n)).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .withColumn("prefix", slice(col("sh"), lit(1), prefixLen))
      .pinLazy() // shingle pass shared by all self-join branches
    val pa = sh.select(col(blockCol), col("id").as("id_a"), col("n_sh").as("na_i"),
      explode(col("prefix")).as("tok"))
    val pb = sh.select(col(blockCol), col("id").as("id_b"), col("n_sh").as("nb_i"),
      explode(col("prefix")).as("tok"))
    // size filter (J >= t forces t*|A| <= |B| <= |A|/t) prunes candidates
    // before the pair-dedup and the O(len) verification; same fp guard — the
    // epsilon can only ADMIT a borderline pair, never drop one
    val sizeCompatible =
      col("nb_i").cast("double") >= col("na_i").cast("double") * threshold - lit(1e-9) &&
      col("nb_i").cast("double") <= col("na_i").cast("double") / threshold + lit(1e-9)
    val candidates = pa.join(pb, Seq(blockCol, "tok"))
      .filter(col("id_a") < col("id_b") && sizeCompatible)
      .select(col(blockCol), col("id_a"), col("id_b"))
      .distinct() // a pair may share several prefix shingles
    val shOnly = sh.select(col("id"), col("sh"))
    candidates
      .join(shOnly.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shOnly.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      // inter/na/nb materialize behind a projection boundary (guaranteed
      // one array_intersect per pair); the jaccard() helper's repeated
      // `inter` subtree would lean on codegen subexpression elimination
      .select(col(blockCol), col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double").as("inter"),
        size(col("sh_a")).cast("double").as("na"),
        size(col("sh_b")).cast("double").as("nb"))
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col(blockCol), col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Pairwise shingle CONTAINMENT within a blocking column — the asymmetric
    * dedup signal Jaccard misses: a short doc wholly embedded in a long one
    * (quote farms, pagination shards, boilerplate-wrapped copies) scores
    * `|A ∩ B| / min(|A|,|B|) ~ 1` while its Jaccard can sit far below any
    * dedup threshold. Output: block, id_a, id_b (a<b), n_a, n_b,
    * containment — exact integer set sizes, one IEEE division.
    *
    * Candidate generation adapts the AllPairs prefix filter to the
    * asymmetric measure: C >= t needs `ceil(t * n_min)` shared shingles, so
    * the smallest common shingle (canonical sort order) must land in the
    * first `n - ceil(t*n) + 1` shingles OF THE SMALLER SIDE — but may sit
    * anywhere in the larger. The join therefore pairs each doc's
    * containment PREFIX against every doc's FULL shingle list (both
    * orientations, canonicalized), keyed on (block, shingle): shuffle by
    * near-unique shingle like [[ngramJaccardPairs]], never by block, and
    * every candidate is re-verified with the true intersection. Same
    * epsilon discipline — the fp guard can only lengthen a prefix.
    */
  def containmentPairs(docs: DataFrame, blockCol: String, n: Int,
      threshold: Double, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold: $threshold")
    val prefixLen = (col("n_sh") - ceil(col("n_sh") * threshold - lit(1e-9)) + 1).cast("int")
    val safeText = coalesce(col(textCol), lit("\u0000<null-doc>"))
    val sh = docs.select(col(blockCol), col(idCol).cast("long").as("id"),
        safeText.as("__text"), TextAnalysis.tokens(safeText).as("__toks"))
      .select(col(blockCol), col("id"),
        array_sort(TextAnalysis.shinglesFromTokens(col("__text"), col("__toks"), n)).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .withColumn("prefix", slice(col("sh"), lit(1), prefixLen))
      .pinLazy() // shared by prefix/full/verify branches
    val pa = sh.select(col(blockCol), col("id").as("id_p"), col("n_sh").as("np_i"),
      explode(col("prefix")).as("tok"))
    val pb = sh.select(col(blockCol), col("id").as("id_f"), col("n_sh").as("nf_i"),
      explode(col("sh")).as("tok"))
    // the prefix bound only holds when the PREFIX side is the smaller set;
    // ties by id keep exactly one orientation per pair alive
    val prefixIsMin = col("np_i") < col("nf_i") ||
      (col("np_i") === col("nf_i") && col("id_p") < col("id_f"))
    val candidates = pa.join(pb, Seq(blockCol, "tok"))
      .filter(col("id_p") =!= col("id_f") && prefixIsMin)
      .select(col(blockCol), least(col("id_p"), col("id_f")).as("id_a"),
        greatest(col("id_p"), col("id_f")).as("id_b"))
      .distinct()
    val shOnly = sh.select(col("id"), col("sh"))
    candidates
      .join(shOnly.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shOnly.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col(blockCol), col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double").as("inter"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
      .withColumn("containment",
        col("inter") / least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col(blockCol), col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        col("containment"))
  }

  /** 32-bit base hash of a shingle: first 8 md5 hex digits as a long.
    * Engine-portable and computed ONCE per shingle — the k permutations
    * below are cheap integer ops, not k md5 passes.
    */
  def shingleHash32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** MinHash signature: sig[i] = min over shingle hashes h of
    * (h*(2i+1) + i) mod 2^31-1 — exact integer math, identical on any engine
    * (h < 2^32, multiplier <= 2k-1 stays in Long).
    *
    * Implemented as a SINGLE fold over the shingles (one md5 per shingle,
    * k cheap mins per step via zip_with) rather than k separate array_min
    * passes: Catalyst collapses single-use projections into lambdas, so a
    * "materialize hashes then min k times" shape silently re-runs the md5
    * pass k times. The fold shape cannot be unfused.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    aggregate(
      transform(shingles, shingleHash32 _),
      array_repeat(lit(2147483647L), k),
      (acc, h) => zip_with(acc,
        transform(sequence(lit(0), lit(k - 1)), i =>
          (h * (i * lit(2L) + lit(1L)) + i.cast("long")) % lit(2147483647L)),
        (a, b) => least(a, b)))

  /** LSH band values: adjacent signature slots concatenated; identical band
    * value in any band -> candidate pair.
    */
  def lshBands(sig: Column, bandSize: Int, nBands: Int): Column =
    transform(sequence(lit(0), lit(nBands - 1)), b =>
      struct(b.as("band"),
        array_join(transform(slice(sig, b * bandSize + 1, lit(bandSize)),
          (x: Column) => x.cast("string")), "|").as("value")))

  /** `bandSize > k` would give nBands = 0 and a phantom band slicing an
    * EMPTY signature — every doc then shares band value "" and the band
    * join degenerates into the all-pairs cross join the operator exists to
    * avoid; a non-dividing bandSize would silently ignore trailing slots.
    */
  private[pipeline] def requireBandParams(k: Int, bandSize: Int): Int = {
    require(bandSize >= 1 && k % bandSize == 0,
      s"bandSize must divide k (k=$k, bandSize=$bandSize)")
    k / bandSize
  }

  /** Per-doc MinHash state: (id, sh, sig) — ONE tokenize+md5 pass, lazily
    * checkpointed because every caller fans it into multiple consumers
    * (banded branches + shingle re-joins) that would otherwise each re-run
    * the md5 pass over the corpus.
    */
  private[pipeline] def minhashSigned(docs: DataFrame, n: Int, k: Int,
      textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        col(textCol).as("__text"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        TextAnalysis.shinglesFromTokens(col("__text"), col("__toks"), n).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), k))
      .pinLazy()

  /** (id, sig, band, value) band rows for a signed relation. */
  private[pipeline] def explodeSigBands(signed: DataFrame, bandSize: Int,
      nBands: Int): DataFrame =
    signed.select(col("id"), col("sig"),
        explode(lshBands(col("sig"), bandSize, nBands)).as("b"))
      .select(col("id"), col("sig"), col("b.band").as("band"), col("b.value").as("value"))
      .filter(col("value").isNotNull)

  /** Cross-band pair dedup WITHOUT a distinct (that second shuffle grows
    * with pair-x-band volume): keep a pair only in its FIRST agreeing band
    * — for band i, some signature slot must differ in every band j < i.
    * A null slot means that band never matched in the join (band rows
    * filter null values), so null comparisons count as "differs".
    * Symmetric in (sigA, sigB); `band` is the joined band column.
    */
  private[pipeline] def firstAgreeingBand(sigA: Column, sigB: Column,
      band: Column, bandSize: Int, nBands: Int): Column = {
    def bandDiffers(j: Int): Column = coalesce(
      (0 until bandSize).map { bi =>
        element_at(sigA, j * bandSize + bi + 1) =!=
          element_at(sigB, j * bandSize + bi + 1)
      }.reduce(_ || _), lit(true))
    (0 until nBands - 1)
      .map(j => (band <= j) || bandDiffers(j))
      .reduceOption(_ && _).getOrElse(lit(true))
  }

  /** Exact-Jaccard verification of candidate id pairs against a shingle
    * relation (id, sh): pairs with J >= threshold survive, with the score.
    */
  private[pipeline] def verifyJaccard(pairs: DataFrame, shingles: DataFrame,
      threshold: Double): DataFrame =
    pairs
      .join(shingles.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shingles.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** MinHash+LSH candidate pairs verified with true Jaccard.
    * Output: id_a, id_b (a<b), jaccard (>= threshold).
    */
  def minhashPairs(docs: DataFrame, n: Int, k: Int, bandSize: Int, threshold: Double,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val nBands = requireBandParams(k, bandSize)
    val sh = minhashSigned(docs, n, k, textCol, idCol)
    // explicit exchange on the join key: the self-join below then reuses ONE
    // shuffle (ReusedExchange) instead of recomputing signatures per branch.
    // The signature rides along (k longs) so pair dedup needs no distinct.
    val banded = explodeSigBands(sh, bandSize, nBands)
      .repartition(col("band"), col("value"))
    val pairs = bandedSelfJoinPairs(banded, bandSize, nBands)
    verifyJaccard(pairs, sh.select(col("id"), col("sh")), threshold)
  }

  /** Banded LSH self-join over an [[explodeSigBands]] relation: candidate
    * pairs (id_a < id_b) from co-bucketed (band, value) rows, attributed
    * to each pair's FIRST agreeing band so every pair emerges exactly once
    * without a distinct. Shared by [[minhashPairs]] and the incremental
    * index lifecycle ([[IncrementalDedup]]) — one definition of pair
    * semantics, not three.
    */
  private[pipeline] def bandedSelfJoinPairs(banded: DataFrame, bandSize: Int,
      nBands: Int): DataFrame = {
    val a = banded.select(col("band"), col("value"), col("id").as("id_a"),
      col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("value"), col("id").as("id_b"),
      col("sig").as("sig_b"))
    a.join(b, Seq("band", "value"))
      .filter(col("id_a") < col("id_b") &&
        firstAgreeingBand(col("sig_a"), col("sig_b"), col("band"), bandSize, nBands))
      .select(col("id_a"), col("id_b"))
  }

  /** Token hash: first 4 md5 hex digits as an int in [0, 65535]. */
  def tokenHash16(t: Column): Column =
    conv(substring(md5(t), 1, 4), 16, 10).cast("int")

  /** 16-bit SimHash in pure integer arithmetic (engine-portable): bit b of
    * the sketch is set iff the +1/-1 vote sum over token hashes at bit b is
    * positive. Callers should materialize the hash array ONCE (a column) —
    * passing `transform(tokens, md5...)` directly would recompute every md5
    * 16 times, once per bit.
    */
  def simhash16FromHashes(hashes: Column): Column = {
    val bitCols = (0 until 16).map { b =>
      val votes = aggregate(hashes, lit(0),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(votes > 0, lit(1 << b)).otherwise(lit(0))
    }
    bitCols.reduce(_ + _)
  }

  def simhash16(tokens: Column): Column =
    simhash16FromHashes(transform(tokens, tokenHash16 _))

  /** Hamming distance between two simhash sketches: one codegen'd popcount
    * (Spark bit_count) over the xor — not 16 shift/mask ops.
    */
  def hamming16(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** SimHash near-dup pairs within a blocking column: hamming <= maxDist.
    *
    * Candidate generation is a pigeonhole band join, not all-pairs: the
    * 16-bit sketch splits into `maxDist + 1` bands, and two sketches within
    * maxDist bit flips MUST agree exactly on at least one band (maxDist flips
    * cannot touch maxDist+1 bands) — an EXACT pruning, verified with the true
    * popcount afterwards. Turns the per-block O(N^2) cross join into an
    * equi-join on (block, band, bits); at corpus scale that is the difference
    * between a shuffle on block (hot blocks explode) and a shuffle on band
    * values (uniform).
    */
  def simhashPairs(docs: DataFrame, blockCol: String, maxDist: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val nBands = maxDist + 1
    val bandBits = 16 / nBands            // trailing band gets the remainder
    // materialize token hashes behind a projection boundary so the 16
    // per-bit aggregates share one md5 pass; the pass itself is CPU-bound
    // per row — spread a single-split input first (Sources.fanOut
    // scaladoc; measured q39 1.7 -> 0.6 s)
    val sh = graft.sources.Sources.fanOut(docs)
      .select(col(blockCol), col(idCol).cast("long").as("id"),
        transform(TextAnalysis.tokens(col(textCol)), tokenHash16 _).as("hs"))
      .select(col(blockCol), col("id"), simhash16FromHashes(col("hs")).as("sketch"))
    if (bandBits == 0) {
      // maxDist >= 16 admits every pair — banding can't prune, go all-pairs
      val a = sh.select(col(blockCol), col("id").as("id_a"), col("sketch").as("sk_a"))
      val b = sh.select(col(blockCol), col("id").as("id_b"), col("sketch").as("sk_b"))
      return a.join(b, Seq(blockCol))
        .filter(col("id_a") < col("id_b"))
        .withColumn("hamming", hamming16(col("sk_a"), col("sk_b")))
        .filter(col("hamming") <= maxDist)
        .select(col(blockCol), col("id_a"), col("id_b"), col("hamming"))
    }
    val bandArr = array((0 until nBands).map { i =>
      val bits = if (i == nBands - 1) shiftright(col("sketch"), i * bandBits)
                 else shiftright(col("sketch"), i * bandBits).bitwiseAND(lit((1 << bandBits) - 1))
      struct(lit(i).as("band"), bits.as("bits"))
    }: _*)
    val banded = sh.select(col(blockCol), col("id"), col("sketch"),
        explode(bandArr).as("b"))
      .select(col(blockCol), col("id"), col("sketch"),
        col("b.band").as("band"), col("b.bits").as("bits"))
    val a = banded.select(col(blockCol), col("band"), col("bits"),
      col("id").as("id_a"), col("sketch").as("sk_a"))
    val b = banded.select(col(blockCol), col("band"), col("bits"),
      col("id").as("id_b"), col("sketch").as("sk_b"))
    // dedupe without a distinct (that would be a second shuffle of every
    // candidate): emit a pair only from its FIRST agreeing band — for band i
    // require some bit to differ in every band j < i (cheap bit math on the
    // sketches already carried by the join)
    def bandOf(sk: Column, j: Int): Column =
      if (j == nBands - 1) shiftright(sk, j * bandBits)
      else shiftright(sk, j * bandBits).bitwiseAND(lit((1 << bandBits) - 1))
    val firstAgreeingBand = (0 until nBands - 1).map { j =>
      (col("band") <= j) || (bandOf(col("sk_a"), j) =!= bandOf(col("sk_b"), j))
    }.reduce(_ && _)
    a.join(b, Seq(blockCol, "band", "bits"))
      .filter(col("id_a") < col("id_b") && firstAgreeingBand)
      .withColumn("hamming", hamming16(col("sk_a"), col("sk_b")))
      .filter(col("hamming") <= maxDist)
      .select(col(blockCol), col("id_a"), col("id_b"), col("hamming"))
  }

  /** CCNet-style paragraph-level dedup ACROSS documents: split every doc on
    * `delim`, keep only the globally-FIRST occurrence of each normalized
    * paragraph (ordered by (doc id, position)), reassemble the surviving
    * paragraphs in original order. This is the inter-document repetition
    * scrub (boilerplate headers, license blocks, navigation chrome) that
    * document-level dedup cannot see.
    *
    * Output: doc_id, text (deduped; "" when every paragraph was a repeat),
    * n_paragraphs, n_kept. Callers typically drop rows with n_kept = 0.
    *
    * Scale shape: two shuffles, both on high-cardinality uniform keys —
    * posexplode is map-side; the first-occurrence rank shuffles on the
    * paragraph md5 (near-unique, no hot keys); the reassembly groupBy
    * shuffles on doc id. No distinct, no self-join, no collect. A paragraph
    * repeated N times still lands in ONE rank partition — for corpus-scale
    * boilerplate (the same cookie banner a billion times) that key carries
    * its duplicate volume, which is exactly the data the operator must see
    * to order; the carried payload is (id, pos) plus the paragraph itself.
    */
  def dropRepeatedParagraphs(docs: DataFrame, delim: String = "\n",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val paras = docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .as(Seq("pos", "para")))
    // rank occurrences of each paragraph by global (doc, position) order;
    // normalization = exact content (callers pre-normalize if needed)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("para"))).orderBy(col("doc_id").asc, col("pos").asc)
    paras.withColumn("__rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        // collect_list skips NULLs: only first occurrences ride; struct sort
        // restores original in-doc order before the join
        array_join(transform(
          array_sort(collect_list(when(col("__rn") === 1,
            struct(col("pos"), col("para"))))),
          p => p.getField("para")), delim).as("text"),
        count(lit(1)).as("n_paragraphs"),
        count(when(col("__rn") === 1, lit(1))).as("n_kept"))
  }

  /** Exact-substring dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better", §2.2 ExactSubstr): scrub every token
    * that lies inside a >= k-token span shared with an EARLIER occurrence
    * anywhere in the corpus (other docs or earlier in the same doc),
    * keeping the globally-first occurrence. Document-level dedup (q33/q35)
    * misses a license block pasted into otherwise-distinct pages; paragraph
    * dedup (q91) misses spans that cross its delimiter — this is the
    * contamination-grade operator that catches any shared run of tokens.
    *
    * Mechanics: a span of length L >= k is shared iff each of its k-token
    * windows is shared, so OVERLAPPING k-shingles (position-ordered, NOT
    * distinct — [[TextAnalysis.ngramsFromTokens]]) are ranked globally by
    * (doc, pos) per shingle hash; every rank-2+ occurrence marks its k
    * token positions as duplicated, and marked positions merge naturally
    * (union of covered positions == union of the shared spans, so spans
    * longer than k and overlapping spans need no interval bookkeeping).
    *
    * Output: doc_id, text (surviving tokens in original order; "" when the
    * whole doc was a repeat), n_tokens, n_kept. NULL-text docs are dropped
    * (same contract as [[dropRepeatedParagraphs]]). Suffix-automaton
    * approaches find the same spans in O(n) single-node; this shape trades
    * constant factors for shuffle-parallelism — the reference
    * implementation's suffix array is a single-machine design.
    *
    * Scale shape: four shuffles, all on high-cardinality uniform keys —
    * the first-occurrence rank shuffles on the shingle hash (near-unique;
    * a billion-fold-repeated boilerplate shingle lands on one key, but
    * that key IS the data the rank must order), the coverage distinct and
    * the anti-join shuffle on (doc, pos), the reassembly on doc. No
    * self-join, no distinct-expand, no collect; candidate volume is k x
    * the true duplicated-token volume, never O(N^2).
    */
  def exactSubstringScrub(docs: DataFrame, k: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 2, s"k: $k (a 1-token 'span' would scrub every repeated word)")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .pinLazy() // one tokenize pass shared by grams + reassembly
    // 0-based gram index p0: the gram at p0 covers 1-based tokens p0+1..p0+k
    val grams = toks.select(col("doc_id"),
      posexplode(TextAnalysis.ngramsFromTokens(col("toks"), k)).as(Seq("p0", "gram")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("gram"))).orderBy(col("doc_id").asc, col("p0").asc)
    val covered = grams.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("doc_id"),
        explode(sequence(col("p0") + 1, col("p0") + k)).as("pos"))
      .distinct() // up to k dup shingles cover one position
    val tokensPos = toks.select(col("doc_id"),
        posexplode(col("toks")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
    tokensPos.join(covered.withColumn("__dup", lit(true)),
        Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(
        // collect_list skips NULLs: only surviving tokens ride; struct sort
        // restores original order (same recipe as dropRepeatedParagraphs)
        array_join(transform(
          array_sort(collect_list(when(col("__dup").isNull,
            struct(col("pos"), col("tok"))))),
          p => p.getField("tok")), " ").as("text"),
        count(lit(1)).as("n_tokens"),
        count(when(col("__dup").isNull, lit(1))).as("n_kept"))
  }

  /** Dedup CLUSTER formation: connected components over a near-dup pair
    * graph, labeling every node with the minimum id of its component (the
    * canonical document). This is the step that turns pairwise operators
    * (minhash / simhash / embedding LSH) into "keep one doc per cluster".
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
    * O(log n) rounds on any graph, unlike naive min-label propagation whose
    * round count is the graph DIAMETER (a 1M-doc duplicate chain would need
    * 1M rounds). Each round is two shuffles keyed by node id;
    * `localCheckpoint` truncates the iterative lineage so plans stay flat.
    *
    * Output: (id, component) for every node that appears in `pairs`;
    * component = min node id of the connected component.
    *
    * `driverUnionFindMaxEdges` is the broadcast-threshold analogue: a pair
    * graph at or under it (16 MB at the default — near-dup graphs are
    * usually a tiny fraction of corpus size) short-circuits to driver-side
    * union-find in one job instead of paying per-round scheduling for a
    * graph that fits in memory; the distributed star iteration engages
    * beyond it. Both paths produce identical labels (PropertySpec pins each
    * against the other and against naive union-find).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 50,
      driverUnionFindMaxEdges: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession

    // canonical big->small directed edges, deduped
    def canon(df: DataFrame): DataFrame =
      df.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct()

    // large-star: connect every LARGER neighbor of u to u's minimum
    // (m = min(N(u) ∪ {u})); operates on the bidirected adjacency
    def largeStar(edges: DataFrame): DataFrame = {
      val bi = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val m = bi.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      canon(bi.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }

    // small-star: connect every SMALLER neighbor of u (and u itself) to u's
    // minimum; operates on the big->small directed edges
    def smallStar(edges: DataFrame): DataFrame = {
      val m = edges.groupBy("u").agg(min(col("v")).as("m"))
      val j = edges.join(m, "u")
      canon(j.select(col("v").as("u"), col("m").as("v"))
        .unionByName(j.select(col("u"), col("m").as("v"))))
    }

    def checksum(edges: DataFrame): (Long, BigDecimal, BigDecimal) = {
      // decimal sums: xxhash64 values span the full long range and an ANSI
      // long sum overflows
      val r = edges.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        sum((col("u") - col("v")).cast("decimal(38,0)"))).collect()(0)
      (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)),
        if (r.isNullAt(2)) BigDecimal(0) else BigDecimal(r.getDecimal(2)))
    }

    var edges = canon(pairs.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v"))).pinLazy()
    var sig = checksum(edges)

    if (sig._1 <= driverUnionFindMaxEdges) {
      // small-graph short-circuit: one collect + union-find, zero rounds
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      // iterative find + path compression (a 1M-edge chain would blow the
      // stack recursively)
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      import spark.implicits._
      return parent.keys.toSeq.map(k => (k, find(k)))
        .toDF("id", "component").repartition(col("component"))
    }

    var iter = 0
    var done = edges.isEmpty
    while (!done && iter < maxIter) {
      val next = smallStar(largeStar(edges)).pinLazy()
      val nextSig = checksum(next) // materializes next's checkpoint
      // checksum equality is confirmed with ONE exact set comparison (both
      // sides are distinct canonical edges and the counts already match, so
      // a single-direction exceptAll decides equality) — a checksum
      // collision between different edge sets must keep iterating, never
      // end with wrong labels. Runs only at the (usually single) equality.
      done = nextSig == sig && next.exceptAll(edges).isEmpty
      // the superseded generation's blocks are dead — release them, else a
      // long-converging graph pins up to maxIter edge-set copies
      Pin.release(edges)
      edges = next; sig = nextSig; iter += 1
    }
    require(done, s"connectedComponents did not converge in $maxIter rounds")
    // converged state is a 2-level star: u -> component min; roots label themselves
    edges.select(col("u").as("id"), col("v").as("component"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("component")))
      .groupBy("id").agg(min(col("component")).as("component"))
  }

  /** End-to-end dedup keep-list: label every item with its duplicate-cluster
    * id ([[connectedComponents]] over `pairs`; unpaired items are singleton
    * clusters of themselves) and keep exactly ONE representative per cluster
    * — the row ranking first by `quality` descending, then id ascending
    * (deterministic on any engine). Emits ALL rows with an `is_kept` flag so
    * the drop set stays auditable; filter `is_kept` for the surviving corpus.
    *
    * Scale shape: the component labels cover only PAIRED vertices — at a
    * realistic dup rate that's a small fraction of the corpus, so the left
    * join back is broadcast-able and AQE picks that up at runtime; otherwise
    * it's one shuffle on id. The representative window partitions by
    * cluster; cluster sizes are bounded by the upstream pair generator's
    * hot-block bail-outs, never by corpus size.
    */
  def keepBestInCluster(items: DataFrame, pairs: DataFrame, idCol: String,
      quality: Column, aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    val labeled = items
      .select(col(idCol).cast("long").as("id"), quality.as("quality"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster_id"),
        col("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("id").asc)
    labeled.withColumn("rn", row_number().over(w))
      .select(col("id"), col("cluster_id"), (col("rn") === 1).as("is_kept"))
  }

  /** Train/test split LEAKAGE audit: near-duplicate pairs whose two sides
    * landed in DIFFERENT splits — the eval-contamination check every
    * training-data split needs before the test loss means anything (a
    * test doc with a train-side near-dup is memorization, not
    * generalization; Lee 2021's dedup motivation applied to the split
    * boundary). Compose any pair generator ([[minhashPairs]],
    * [[simhashPairs]], winnowing, embedding near-dup) with any split
    * assignment ([[Sampling.stratifiedSplit]], hash split).
    *
    * `pairs`: (aCol, bCol, ...carried columns); `splits`: (idCol, split).
    * Output: the offending pairs with both split labels, every carried
    * pair column preserved. Two equi-joins on uniformly-hashed ids — the
    * pair side is the small one at any realistic dup rate, so AQE
    * broadcasts it; the audit never rescans text. Empty result = clean
    * split, the state a production pipeline asserts on.
    */
  def splitLeakage(pairs: DataFrame, splits: DataFrame,
      idCol: String = "doc_id", splitCol: String = "split",
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val sp = splits.select(col(idCol).cast("long").as("__id"),
      col(splitCol).cast("string").as("__sp"))
    pairs
      .join(sp.select(col("__id").as(aCol), col("__sp").as("split_a")), Seq(aCol))
      .join(sp.select(col("__id").as(bCol), col("__sp").as("split_b")), Seq(bCol))
      .filter(col("split_a") =!= col("split_b"))
  }

  /** Leakage-safe train/heldout split: assign each NEAR-DUP COMPONENT —
    * not each doc — to a split, so no near-dup pair ever crosses the
    * boundary ([[splitLeakage]] on the output is empty BY CONSTRUCTION,
    * where a per-doc hash split only gets audited after the fact). This is
    * the group-aware split every eval harness needs once the corpus has
    * been through near-dup detection: a heldout doc whose near-twin sits
    * in train is a leaked benchmark.
    *
    * Every doc gets a row: docs absent from the pair graph are their own
    * singleton component (cluster_id = doc_id — the same convention as
    * [[connectedComponents]]' min-id labels, which can never collide with
    * a singleton because a component's min id IS one of its doc ids).
    * The split is a pure hash of cluster_id, so adding new docs never
    * reassigns existing clusters (stable under corpus growth), and the
    * heldout share is ~heldoutPpm of CLUSTERS, not docs — by design:
    * holding out whole clusters is the point.
    *
    * Scale: components ride [[connectedComponents]] (guarded union-find /
    * distributed star); the rest is one left join keyed on doc_id plus a
    * pushed-down hash filter. Output: (doc_id, cluster_id, split).
    */
  def componentSplit(docs: DataFrame, idCol: Column, pairs: DataFrame,
      heldoutPpm: Long, salt: String = ""): DataFrame = {
    require(heldoutPpm >= 0L && heldoutPpm <= 1000000L, s"heldoutPpm: $heldoutPpm")
    val comps = connectedComponents(pairs)
      .select(col("id").as("__doc_id"), col("component"))
    docs.select(idCol.cast("long").as("doc_id"))
      .join(comps, col("doc_id") === col("__doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .withColumn("split",
        when(Sampling.hashBucket(col("cluster_id"), salt) < heldoutPpm,
          lit("heldout")).otherwise(lit("train")))
  }
}
