package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Pin.PinOps

/** Sort-free global ranking (builder brief; the OLAP "rank every value"
  * primitive re-shaped for scale).
  *
  * A naive `rank() OVER (ORDER BY v)` has no PARTITION BY, so Spark plans a
  * SINGLE-partition window — every row of a 100 TB table funnels through one
  * task. This operator instead ranks the ROLLED-UP distinct values: one
  * partial-agg shuffle to (group, value) -> cnt (the same shape as
  * [[graft.pipeline.Stats.exactQuantiles]]), then a cumulative window over
  * distinct values only. rank(v) = (#rows with smaller v) + 1 falls out of
  * the cumsum with no per-row sort at all; rows re-acquire their rank by a
  * join on the (small) value table if needed.
  *
  * With `groupCols` the window partitions on the group (fully parallel).
  * With NO groupCols the cum-sum window is single-partition over DISTINCT
  * values — fine for bounded-cardinality metrics (the quantile caveat in
  * Stats applies verbatim: bin or sketch unbounded doubles first), and
  * GUARDED: the plan raises once the distinct-value stream exceeds
  * `maxDistinctUngrouped`, so an ungrouped call on unbounded doubles fails
  * loud instead of silently funneling a corpus through one task.
  */
object Ranking {

  /** Per-distinct-value ranking table: (group..., value, n_rows, rnk,
    * dense_rnk) where `rnk` is SQL rank() (1 + rows strictly smaller) and
    * `dense_rnk` is dense_rank(), both ascending. NULL values are ignored
    * (SQL window frames rank them, but a NULL rank is meaningless for the
    * rollup consumers and Spark/other engines disagree on NULL order).
    *
    * `maxDistinctUngrouped` applies only when `groupCols` is empty: the
    * single-partition cum-sum window already streams every distinct value
    * through one task, so the guard is an in-plan `raise_error` on the
    * row_number it computes anyway — zero extra jobs, zero extra shuffles;
    * it converts the silent single-task funnel into a hard error telling
    * the caller to bin or sketch first ([[graft.pipeline.Stats]]).
    */
  def valueRanks(df: DataFrame, groupCols: Seq[String], valueCol: Column,
      maxDistinctUngrouped: Long = 2000000L): DataFrame = {
    require(maxDistinctUngrouped >= 1, s"maxDistinctUngrouped: $maxDistinctUngrouped")
    val gcols = groupCols.map(col)
    val counts = df.filter(valueCol.isNotNull)
      .groupBy(gcols :+ valueCol.as("v"): _*)
      .agg(count(lit(1)).as("n_rows"))
    val byVal = Window.partitionBy(gcols: _*).orderBy(col("v").asc)
    val denseRnk = row_number().over(byVal).cast("long")
    val guardedDense =
      if (groupCols.nonEmpty) denseRnk
      else when(denseRnk > maxDistinctUngrouped, raise_error(lit(
        s"valueRanks with no groupCols exceeded $maxDistinctUngrouped distinct " +
          "values — the ungrouped cum-sum window is single-partition; bin or " +
          "sketch the value first (graft.pipeline.Stats)")).cast("long"))
        .otherwise(denseRnk)
    counts
      .withColumn("rnk", sum(col("n_rows")).over(byVal) - col("n_rows") + 1L)
      .withColumn("dense_rnk", guardedDense)
  }

  /** Contiguous global row indices 0..N-1 by `sortCols` order WITHOUT the
    * single-partition window a bare `row_number() OVER (ORDER BY ...)`
    * plans: range-partition on the sort key, rank WITHIN each partition
    * (parallel), then shift each partition by the total row count of the
    * partitions before it — a partition-count-sized offset table computed
    * in one narrow aggregation and broadcast back. The classic use is
    * assigning stable contiguous sample ids to a training corpus.
    *
    * `sortCols` must be a UNIQUE total order (ties would make the index
    * assignment partition-placement-dependent) — uniqueness is the
    * caller's contract, same as every deterministic-sampling op here. The
    * driver-side collect is bounded by the partition COUNT, never the
    * data (same bound class as Clustering's k x dim centroids).
    */
  def globalRowNumbers(df: DataFrame, sortCols: Seq[Column],
      outCol: String = "row_idx"): DataFrame = {
    require(sortCols.nonEmpty, "globalRowNumbers needs a sort order")
    require(!df.columns.contains(outCol), s"column name '$outCol' is reserved")
    Seq("__pid", "__offset").foreach(c =>
      require(!df.columns.contains(c), s"column name '$c' is reserved"))
    // localCheckpoint BEFORE the counts collect: repartitionByRange samples
    // its range boundaries per-execution (RangePartitioner's reservoir seed
    // is the RDD id, and AQE may re-coalesce), so running the plan twice —
    // once for counts, once for the output join — can place rows in
    // DIFFERENT partitions whenever the sampler doesn't see every row. The
    // broadcast offsets would then disagree with actual partition contents
    // and row_idx silently gets duplicates/gaps. Pinning the partitioning
    // once makes both jobs read the same materialized layout (same
    // discipline as Dedup.minhashSigned / bpeLearn).
    val parted = df.repartitionByRange(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .pinLazy()
    val counts = parted.groupBy(col("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var cum = 0L
    val offsetByPid = counts.map { case (pid, n) =>
      val offset = cum; cum += n; (pid, offset)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offsetDf = offsetByPid.toSeq.toDF("__pid", "__offset")
    val within = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    parted.join(broadcast(offsetDf), Seq("__pid"))
      .withColumn(outCol,
        row_number().over(within).cast("long") + col("__offset") - 1L)
      .drop("__pid", "__offset")
  }

  /** Contiguous global prefix sums of `valueCol` by `sortCols` order,
    * WITHOUT the single-partition window a bare
    * `sum() OVER (ORDER BY ...)` plans — the [[globalRowNumbers]]
    * technique applied to running totals: range-partition on the sort
    * key, running-sum WITHIN each partition (parallel), shift each
    * partition by the sum of the partitions before it (a
    * partition-count-sized offset table, broadcast back). The classic
    * uses are Pareto/ABC cutoffs and Lorenz-curve style cumulative
    * shares over a ranked domain.
    *
    * Same contracts as [[globalRowNumbers]]: `sortCols` must be a unique
    * total order (ties would make per-row cumulative values
    * partition-placement-dependent), values are non-null LONGs (cast
    * upstream), the driver-side collect is bounded by the partition
    * COUNT, and the pinned layout is read by both jobs.
    */
  def prefixSums(df: DataFrame, sortCols: Seq[Column], valueCol: Column,
      outCol: String = "cum_sum"): DataFrame = {
    require(sortCols.nonEmpty, "prefixSums needs a sort order")
    require(!df.columns.contains(outCol), s"column name '$outCol' is reserved")
    Seq("__pid", "__offset", "__v").foreach(c =>
      require(!df.columns.contains(c), s"column name '$c' is reserved"))
    val parted = df.withColumn("__v", valueCol.cast("long"))
      .repartitionByRange(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .pinLazy()
    val counts = parted.groupBy(col("__pid"))
      .agg(coalesce(sum(col("__v")), lit(0L)).as("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var cum = 0L
    val offsetByPid = counts.map { case (pid, s) =>
      val offset = cum; cum += s; (pid, offset)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offsetDf = offsetByPid.toSeq.toDF("__pid", "__offset")
    val within = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted.join(broadcast(offsetDf), Seq("__pid"))
      .withColumn(outCol, sum(col("__v")).over(within) + col("__offset"))
      .drop("__pid", "__offset", "__v")
  }

  /** Pareto/ABC classification: rank keys by value descending and label
    * by cumulative-share cutoffs — `A` while the running total is within
    * `aPct`% of the grand total, `B` within `bPct`%, else `C` (the
    * inventory-management / effort-allocation standard; the crossing item
    * belongs to the LOWER class by the `<=` convention, so boundaries are
    * exact). Comparisons are cross-multiplied integers through
    * DECIMAL(38,0) — `cum * 100 <= pct * total` — no division anywhere.
    * Duplicate keys are pre-aggregated; the (value desc, key asc) order
    * is a unique total order, satisfying [[prefixSums]]'s contract.
    */
  def abcClassify(df: DataFrame, keyCol: Column, valueCol: Column,
      aPct: Int = 80, bPct: Int = 95): DataFrame = {
    require(1 <= aPct && aPct < bPct && bPct < 100,
      s"cutoffs: aPct=$aPct bPct=$bPct")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val base = df.select(keyCol.as("key"), valueCol.cast("long").as("value"))
      .filter(col("value").isNotNull)
      .groupBy(col("key")).agg(sum(col("value")).as("value"))
      .pinLazy() // feeds the ranked pass and the total agg
    val ranked = prefixSums(base,
      Seq(col("value").desc, col("key").asc), col("value"), "cum_value")
    val tot = base.agg(coalesce(sum(col("value")), lit(0L)).as("__t"))
    ranked.crossJoin(broadcast(tot))
      .select(col("key"), col("value"), col("cum_value"),
        when(dec(col("cum_value")) * 100L <= dec(lit(aPct.toLong)) *
          dec(col("__t")), lit("A"))
          .when(dec(col("cum_value")) * 100L <= dec(lit(bPct.toLong)) *
            dec(col("__t")), lit("B"))
          .otherwise(lit("C")).as("abc_class"))
  }

  /** Bradley-Terry strengths from pairwise outcomes (Bradley & Terry
    * 1952, via Zermelo's MM iteration; Hunter 2004, "MM algorithms for
    * generalized Bradley-Terry models") — the arena-style ranking of a
    * BOUNDED item set (models in an eval arena, teams, suppliers) from
    * win/loss records. P(i beats j) = s_i / (s_i + s_j); the MM update
    *   `s_i' = W_i / sum_j n_ij / (s_i + s_j)`
    * runs here as a TRUNCATED integer fixed point: strengths in micro
    * units, each pair term `n_ij * 1e12 div (s_i + s_j)`, the update one
    * more truncating division, then max-renormalization to 1e6 per round
    * (BT is gauge-free; max-norm keeps the integers bounded and the
    * iteration bit-replayable — the [[graft.pipeline.Clustering]] PCA
    * convention). Fixed `iters` rounds, deterministic; convergence needs
    * the comparison graph connected (Zermelo's condition) — a never-
    * winning item goes to strength 0, an unbeaten one to 1e6, both
    * stable. Items are collected ONLY as the aggregated win matrix
    * (item x item counts, bounded by `maxItems` — the Markov-matrix
    * driver-iteration contract); raw comparisons never leave the
    * cluster.
    *
    * Input: one row per game with winner/loser item ids. Output: item,
    * wins, games, strength_ppm, rank (total order: strength desc, item
    * asc).
    */
  def bradleyTerry(games: DataFrame, winnerCol: Column, loserCol: Column,
      iters: Int = 10, maxItems: Int = 1000): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters: $iters")
    require(maxItems >= 2, s"maxItems: $maxItems")
    val pairs = games
      .select(winnerCol.cast("long").as("w"), loserCol.cast("long").as("l"))
      .filter(col("w").isNotNull && col("l").isNotNull && col("w") =!= col("l"))
      .groupBy(col("w"), col("l")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val items = pairs.keySet.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    require(items.size <= maxItems,
      s"bradleyTerry: ${items.size} items exceeds maxItems=$maxItems — " +
        "the win matrix is driver-bounded by contract; bucket items first")
    val idx = items.zipWithIndex.toMap
    val m = items.size
    val wins = Array.ofDim[Long](m, m) // wins(i)(j) = #(i beats j)
    pairs.foreach { case ((w, l), n) => wins(idx(w))(idx(l)) += n }
    val scale = 1000000L
    var s = Array.fill(m)(BigInt(scale))
    for (_ <- 0 until iters) {
      val next = Array.tabulate(m) { i =>
        val wTot = BigInt((0 until m).map(j => wins(i)(j)).sum)
        val d = (0 until m).map { j =>
          val nij = wins(i)(j) + wins(j)(i)
          val sum = s(i) + s(j)
          if (j == i || nij == 0L || sum == 0) BigInt(0)
          else BigInt(nij) * BigInt(1000000000000L) / sum
        }.sum
        if (d == 0) BigInt(0) else wTot * BigInt(1000000000000L) / d
      }
      val mx = next.max
      s =
        if (mx == 0) next
        else next.map(v => v * scale / mx)
    }
    val spark = games.sparkSession
    import spark.implicits._
    val rows = items.zipWithIndex.map { case (item, i) =>
      val w = (0 until m).map(j => wins(i)(j)).sum
      val g = (0 until m).map(j => wins(i)(j) + wins(j)(i)).sum
      (item, w, g, s(i).toLong)
    }
    val ranked = rows.sortBy { case (item, _, _, st) => (-st, item) }
      .zipWithIndex.map { case ((item, w, g, st), r) => (item, w, g, st, r + 1) }
    ranked.toDF("item", "wins", "games", "strength_ppm", "rank")
  }
}
