package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Warehouse
import graft.engine.Pin.PinOps

/** Corpus-delta (incremental) MinHash dedup: dedup NEW ARRIVALS against a
  * persisted signature index instead of recomputing the corpus — the
  * operational shape of dedup at 100 TB, and the is_incremental pattern of
  * the reference's incremental models
  * (models/marts/gaps/fct_gap_exceptions.sql:32-33) applied to
  * [[Dedup.minhashPairs]].
  *
  * The index is two bucketed catalog tables ([[Warehouse.writeBucketed]]):
  *
  *  - `<name>_bands` (band, value, id, sig), bucketed on (band, value) —
  *    the LSH probe side: a delta's band join against it needs NO exchange
  *    on the corpus side, and the scan reads only the compact band rows
  *    (never corpus text);
  *  - `<name>_sh` (id, sh), bucketed on id — shingle sets for exact-Jaccard
  *    verification of the (small) candidate set, fetched by a broadcast
  *    semi-join so the corpus side again never shuffles.
  *
  * Per-run cost: tokenize+md5 over the DELTA only, one bucketed band join,
  * verification joins bounded by candidate volume, and an O(delta) append
  * of the delta's rows into both tables ([[Warehouse.appendBucketed]]).
  * The corpus is re-SCANNED (compact index columns, sequential I/O) but
  * never re-signatured — no tokenize, no md5, no text read (ScaleSpec
  * pins the run-2 plan to delta + index files only).
  *
  * Two-run equivalence (the oracle gate): initRun's pairs ∪ deltaRun's
  * pairs == [[Dedup.minhashPairs]] over the full corpus, because LSH
  * band agreement and Jaccard verification are pairwise properties
  * independent of WHEN each side was signed. deltaRun emits exactly the
  * pairs with at least one delta side: delta-vs-corpus from the index
  * probe plus delta-vs-delta from the batch self-join.
  *
  * Contract: delta ids must be NEW (not present in the index) — an id
  * re-submitted with different text would pair against its own stale
  * signature; re-ingestion flows belong to the merge path, not append.
  */
object IncrementalDedup {

  private def bandsTable(name: String) = s"${name}_bands"
  private def shTable(name: String) = s"${name}_sh"
  private def ingestMarker(name: String) = s"${name}__dedup_ingest"

  /** Repair a TORN ingest: deltaRun's two appends (bands, then shingles)
    * are separate jobs, and a crash between them leaves band rows whose
    * ids have no shingle rows. Later deltas would then probe those ids
    * into candidates that verifyJaccard's inner shingle join silently
    * drops — MISSING pairs, worse than the documented duplicate-pair
    * replay. deltaRun brackets the appends with an intent marker (an
    * undo marker, where the Warehouse commit's record is a redo one), and
    * this runs at the top of every deltaRun: marker present -> delete the
    * orphaned band rows (generation-swap rewrite, only when orphans
    * actually exist), so the index returns to its pre-batch state and the
    * caller's replay of the failed batch lands whole. The orphan probe
    * joins on id, where the shingle table's bucketing already lives — no
    * corpus-side exchange. A stale marker over a consistent index is a
    * no-op (one count job, no rewrite).
    */
  private def repairTornIngest(wh: Warehouse, name: String, nBuckets: Int,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    if (wh.getMeta(ingestMarker(name)).isEmpty) return
    val bands = spark.table(bandsTable(name))
    val shIds = spark.table(shTable(name)).select(col("id"))
    if (bands.join(shIds, Seq("id"), "left_anti").limit(1).count() > 0)
      wh.rewriteBucketed(bandsTable(name),
        bands.join(shIds, Seq("id"), "left_semi")
          .select(bands.columns.map(col).toSeq: _*),
        Seq("band", "value"), nBuckets)
    wh.removeMeta(ingestMarker(name))
  }

  /** First run: build the index from the initial corpus and return the
    * corpus-internal pairs (the batch semantics of [[Dedup.minhashPairs]],
    * computed from the same one-pass signatures that seed the index).
    */
  def initRun(wh: Warehouse, name: String, docs: DataFrame, n: Int, k: Int,
      bandSize: Int, threshold: Double, nBuckets: Int = 16,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val nBands = Dedup.requireBandParams(k, bandSize)
    val signed = Dedup.minhashSigned(docs, n, k, textCol, idCol)
    val banded = Dedup.explodeSigBands(signed, bandSize, nBands)
    wh.writeBucketed(bandsTable(name), banded, Seq("band", "value"), nBuckets)
    wh.writeBucketed(shTable(name), signed.select(col("id"), col("sh")),
      Seq("id"), nBuckets)
    // a stale ingest marker from a crashed deltaRun of a PREVIOUS index
    // under this name is moot after the full rebuild — clear it so the
    // first deltaRun doesn't pay the (no-op) orphan probe
    wh.removeMeta(ingestMarker(name))
    // corpus-internal pairs from the SAME banded relation the index stores
    val pairs = Dedup.bandedSelfJoinPairs(banded, bandSize, nBands)
    Dedup.verifyJaccard(pairs, signed.select(col("id"), col("sh")), threshold)
  }

  /** Incremental run: sign the DELTA only, probe the index, verify, and
    * append the delta's signatures so the next run sees corpus ∪ delta.
    * Returns exactly the pairs with >= 1 delta side (id_a < id_b,
    * jaccard >= threshold).
    *
    * The two index appends are bracketed by an intent marker so a crash
    * between them is repaired at the top of the NEXT run (see
    * [[repairTornIngest]]); the failed batch must then be replayed — the
    * at-least-once story the `id_d != id_c` filter already supports.
    *
    * `compactAboveFilesPerBucket`: every run appends up to one part-file
    * per touched bucket, so an append-only index accretes small files
    * linearly in run count — the classic corpus-scale file-count
    * explosion. When a table's current generation exceeds
    * `nBuckets * compactAboveFilesPerBucket` data files, it is rewritten
    * in place via [[Warehouse.compactBucketed]] (shuffle-free, one file
    * per bucket, crash-safe generation swap). The check is one directory
    * listing per run; 0 disables compaction.
    */
  def deltaRun(wh: Warehouse, name: String, delta: DataFrame, n: Int, k: Int,
      bandSize: Int, threshold: Double, nBuckets: Int = 16,
      textCol: String = "text", idCol: String = "doc_id",
      compactAboveFilesPerBucket: Int = 32): DataFrame = {
    val spark = delta.sparkSession
    repairTornIngest(wh, name, nBuckets, spark)
    val nBands = Dedup.requireBandParams(k, bandSize)
    val signed = Dedup.minhashSigned(delta, n, k, textCol, idCol)
    val dBanded = Dedup.explodeSigBands(signed, bandSize, nBands)
    val corpus = spark.table(bandsTable(name))

    // delta-vs-corpus: bucketed probe — the corpus side arrives
    // pre-partitioned on (band, value), only the delta shuffles
    val dvc = dBanded
      .select(col("band"), col("value"), col("id").as("id_d"), col("sig").as("sig_d"))
      .join(corpus.select(col("band"), col("value"), col("id").as("id_c"), col("sig").as("sig_c")),
        Seq("band", "value"))
      // id_d != id_c: impossible under the new-ids contract, REAL under an
      // at-least-once replay (the batch's own signatures already in the
      // index) — a doc must never pair with itself
      .filter(col("id_d") =!= col("id_c") &&
        Dedup.firstAgreeingBand(col("sig_d"), col("sig_c"), col("band"), bandSize, nBands))
      .select(least(col("id_d"), col("id_c")).as("id_a"),
        greatest(col("id_d"), col("id_c")).as("id_b"))
    // delta-vs-delta: the batch self-join over the (small) delta bands
    val dvd = Dedup.bandedSelfJoinPairs(dBanded, bandSize, nBands)
    // disjoint by the new-ids contract (one side in the index, both in the
    // delta) — no cross-branch dedup needed. Lazily checkpointed: consumed
    // twice below (pair verification + the semi-join id set), and each
    // consumer would otherwise re-run the band probes
    val candidates = dvc.unionByName(dvd).pinLazy()

    // verification shingles: delta's own + ONLY the index rows the
    // candidates touch (broadcast semi-join: the corpus-sized table is
    // filtered in place, never shuffled)
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val corpusSh = spark.table(shTable(name))
      .join(broadcast(candIds), Seq("id"), "left_semi")
    val shAll = signed.select(col("id"), col("sh")).unionByName(corpusSh)
    // EAGER checkpoint before the appends below: the verified plan reads
    // the index tables lazily, and appending the delta's rows first would
    // make the plan see its own output (delta-vs-delta pairs doubled)
    val verified = Dedup.verifyJaccard(candidates, shAll, threshold)
      .pinEager()

    wh.putMeta(ingestMarker(name), "")
    wh.appendBucketed(bandsTable(name), dBanded, Seq("band", "value"), nBuckets)
    wh.failpoint("dedupingest:bands-appended")
    wh.appendBucketed(shTable(name), signed.select(col("id"), col("sh")),
      Seq("id"), nBuckets)
    wh.removeMeta(ingestMarker(name))
    if (compactAboveFilesPerBucket > 0) {
      val budget = nBuckets.toLong * compactAboveFilesPerBucket
      if (wh.bucketedFileCount(bandsTable(name)) > budget)
        wh.compactBucketed(bandsTable(name), Seq("band", "value"), nBuckets)
      if (wh.bucketedFileCount(shTable(name)) > budget)
        wh.compactBucketed(shTable(name), Seq("id"), nBuckets)
    }
    verified
  }
}
