package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Pin.PinOps

/** Embedding clustering for training-data pipelines (builder brief):
  * Lloyd's k-means over QUANTIZED integer vectors, the codebook-training
  * step upstream of IVF ANN ([[Similarity.ivfTopK]]) and cluster-balanced
  * data mixing.
  *
  * Engine-portability design (same trick as the quantized cosine family in
  * [[Similarity]]): components quantize to `floor(x*1000 + 0.5)` longs, a
  * centroid is the exact rational (component-sum vector, member count), and
  * the squared distance to centroid `S/c` is compared via the exact integer
  * `sum_i (c*x_i - S_i)^2` — one final cast-to-double division by `c^2`
  * normalizes it (correctly-rounded IEEE on any engine). No floating-point
  * accumulation anywhere, so assignments reproduce bit-identically
  * regardless of partitioning, row order, or engine.
  *
  * Integer-exactness bound: `c*max|x| + |S|` must stay below 2^31.5-ish so
  * the per-dimension square fits a long — with unit-norm embeddings
  * (|x| <= 1000) that holds to ~3M members per cluster. Past that scale,
  * train the codebook on a [[Sampling.hashSample]] (standard k-means
  * practice) rather than widening the arithmetic.
  */
object Clustering {

  /** One exact-rational centroid: component sums + member count. */
  final case class Centroid(num: Array[Long], den: Long)

  /** Argmin-over-centroids assignment column: squared distance as the exact
    * integer fold above, strict `<` so ties go to the LOWEST centroid index
    * on every engine.
    */
  private[pipeline] def assignCol(vec: Column, cents: Seq[Centroid]): Column = {
    val entries = cents.zipWithIndex.map { case (c, j) =>
      val diffs = zip_with(vec, array(c.num.map(lit(_)).toSeq: _*), (x, n) => {
        val t = lit(c.den) * x - n
        t * t
      })
      val dist = aggregate(diffs, lit(0L), (a, e) => a + e)
      struct((dist.cast("double") / lit((c.den * c.den).toDouble)).as("d"),
        lit(j).as("j"))
    }
    val best = aggregate(array(entries: _*),
      struct(lit(Double.PositiveInfinity).as("d"), lit(-1).as("j")),
      (acc, e) => when(e("d") < acc("d"), e).otherwise(acc))
    best("j")
  }

  /** Exact per-label centroid components: posexplode the quantized vectors
    * and roll (label, pos) up to (sum, count) — the mean-pooling /
    * class-prototype aggregate of an embedding pipeline, exposed as the
    * exact rational plus one final IEEE division (`mean_q = sum_q / n_vecs`,
    * engine-portable like every quantized-similarity op).
    *
    * Scale shape: one explode + one partial-agg shuffle keyed (label, pos)
    * — map-side combine rolls each task to labels x dim rows, so the
    * exchange never carries per-vector data. No driver collect (unlike the
    * k-means codebook, the centroid TABLE may be large: labels x dim).
    */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String,
      quantScale: Int = 1000, extraGroupCols: Seq[String] = Nil): DataFrame =
    // extraGroupCols (pre-projected column names) key the register table
    // at a finer grain (e.g. one rollup per day for the rolling centroid
    // monitor) — sums stay mergeable across the extra keys by plain
    // (label, pos) bag-sum, the HLL-regroup property the stored-baseline
    // scorers rely on
    df.select(extraGroupCols.map(col) :+ col(labelCol).as("label") :+
      posexplode(graft.plans.Expressions.quantizeDoubles(col(vecCol), quantScale))
        .as(Seq("pos", "x")): _*)
      .groupBy(extraGroupCols.map(col) ++ Seq(col("label"), col("pos")): _*)
      // count(x), not count(1): sum() skips NULL components, so counting
      // the NULL rows too would silently bias mean_q low — the mean is
      // over PRESENT components (a corrupt all-NULL position yields
      // sum NULL / count 0 -> NULL mean, visible, not skewed)
      .agg(sum(col("x")).as("sum_q"), count(col("x")).as("n_vecs"))
      .withColumn("mean_q", col("sum_q").cast("double") / col("n_vecs").cast("double"))

  /** Lloyd's k-means assignment: seed centroids from the `k` smallest-id
    * rows (deterministic, gap-tolerant), run `iters` update rounds, emit the
    * final assignment `(id, cluster)`. A cluster that loses all members
    * keeps its previous centroid (the standard empty-cluster policy).
    *
    * Scale shape per round: one corpus scan computing the assignment (the
    * centroid literals are broadcast inside the plan — no join, no
    * exchange), then a posexplode + groupBy(cluster, pos) whose map-side
    * partial aggregation means the shuffle carries at most k*dim rows per
    * task; the k*dim centroid update is a bounded driver collect (same
    * class as the IVF codebook). Total: `iters + 1` scans, zero wide
    * shuffles of row data.
    */
  def kMeansAssign(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, quantScale: Int = 1000): DataFrame = {
    val (qc, cents) = trainQuantized(df, idCol, vecCol, k, iters, quantScale)
    qc.select(col("id"), assignCol(col("v"), cents).as("cluster"))
  }

  /** The trained codebook alone — for callers that assign in their OWN
    * scan (product quantization trains one codebook per sub-block, then
    * encodes every block in a single corpus pass).
    */
  def kMeansCodebook(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, quantScale: Int = 1000): Seq[Centroid] =
    trainQuantized(df, idCol, vecCol, k, iters, quantScale)._2

  /** Training internals shared by [[kMeansAssign]] / [[kMeansCodebook]]:
    * returns the guarded quantized relation and the final centroids.
    */
  private[pipeline] def trainQuantized(df: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int,
      quantScale: Int = 1000): (DataFrame, Seq[Centroid]) = {
    require(k >= 1, s"k: $k")
    require(iters >= 0, s"iters: $iters")
    // lazy pin: computed once by the seed collect below, then re-read by
    // every round AND by kMeansAssign's returned plan, so it is not
    // released here; its blocks go when that plan becomes unreachable
    val q = df.select(col(idCol).cast("long").as("id"),
      graft.plans.Expressions.quantizeDoubles(col(vecCol), quantScale).as("v"))
      .pinLazy()
    val seedRows = q.orderBy(col("id").asc).limit(k).collect()
    require(seedRows.length == k, s"need >= $k rows to seed, got ${seedRows.length}")
    val seedVecs = seedRows.map(r => Option(r.getSeq[Any](1)))
    seedVecs.zip(seedRows).foreach { case (v, r) =>
      require(v.exists(s => s.nonEmpty && !s.contains(null)),
        s"kMeansAssign: seed vector for id ${r.get(0)} is NULL/empty/has NULL components")
    }
    val dim = seedVecs.head.get.length
    require(seedVecs.forall(_.get.length == dim),
      s"kMeansAssign: seed vectors disagree on dimension (expected $dim)")
    // fail-loud on corrupt vectors (histRegisters' policy): a short/null-
    // padded vector would otherwise yield NULL distances, lose every `<`
    // comparison to the (Infinity, -1) seed, and silently emit cluster = -1
    val malformed = coalesce(
      size(col("v")) =!= dim || exists(col("v"), _.isNull), lit(true))
    val qc = q.select(col("id"),
      when(malformed, raise_error(concat(
        lit(s"kMeansAssign: malformed vector (expected $dim non-NULL components) for id "),
        col("id").cast("string")))).otherwise(col("v")).as("v"))
    var cents: Seq[Centroid] =
      seedRows.map(r => Centroid(r.getSeq[Long](1).toArray, 1L)).toSeq
    for (_ <- 0 until iters) {
      val updates = qc.select(assignCol(col("v"), cents).as("cluster"), col("v"))
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
        .collect() // bounded: k * dim rows
        .groupBy(_.getAs[Int]("cluster"))
      cents = cents.zipWithIndex.map { case (old, j) =>
        updates.get(j).fold(old) { rows =>
          val num = new Array[Long](old.num.length)
          rows.foreach(r => num(r.getAs[Int]("pos")) = r.getAs[Long]("s"))
          Centroid(num, rows.head.getAs[Long]("cnt"))
        }
      }
    }
    (qc, cents)
  }

  /** Top principal component by power iteration over the EXACT integer
    * scatter matrix — the "is this embedding space degenerate / what axis
    * carries the variance" diagnostic upstream of whitening, and the 1-D
    * projection axis for embedding-drift slicing. PCA via covariance +
    * power iteration is the textbook method (Golub & Van Loan, Matrix
    * Computations §8); what makes this engine-portable is doing ALL of it
    * in integers:
    *
    *  - components quantize to `floor(x*1000 + 0.5)` milli longs (the
    *    repo-wide vector convention);
    *  - the scatter `S = n*sum(x x^T) - (sum x)(sum x)^T` — n times the
    *    covariance, exact in longs — comes from ONE scan: each row
    *    explodes to its upper-triangle products plus first-moment and
    *    count sentinels, and a (i, j)-keyed partial-agg rollup collapses
    *    map-side to at most `1 + d + d(d+1)/2` rows per task (d=64:
    *    2,145) — the shuffle carries moments, never vectors;
    *  - the driver collect is bounded by that same contract (the k-means
    *    centroid discipline above), and each power step renormalizes
    *    `v <- (S v) * 1e6 div max|S v|` in BigInt with sign-magnitude
    *    truncation, so every engine replays it bit-for-bit;
    *  - `lambda_scaled` is the Rayleigh quotient `(v^T S v) div (v^T v)`
    *    (an eigenvalue of the SCATTER, i.e. n*covariance-eigenvalue) and
    *    `explained_ppm = lambda*1e6 div trace(S)` — both non-negative, so
    *    the truncating division is engine-agnostic.
    *
    * Fixed iteration count (not convergence-tested) keeps the result
    * deterministic and oracle-replayable; 10 rounds separate any top
    * eigenvalue with a gap ratio under ~0.25 to the ppm scale, and a
    * near-tied top pair yields SOME unit vector in their span —
    * deterministic, just not unique-eigenvector, same caveat as every
    * power method. Exactness bound: `n * d * (1000*max|x|)^2 * 1e6` must
    * stay inside DECIMAL(38)/BigInt during iteration (holds to ~1e12 rows
    * of unit vectors); the collect is d-bounded, never data-bounded.
    */
  def pcaTopComponent(df: DataFrame, vecCol: String, dim: Int,
      iters: Int = 10): DataFrame = {
    require(dim >= 1 && dim <= 512, s"dim: $dim")
    require(iters >= 1 && iters <= 100, s"iters: $iters")
    // the d(d+1)/2 scatter explode is CPU-bound per row — spread a
    // single-split input first (graft.sources.Sources.fanOut scaladoc;
    // measured q318 2.6 -> 1.0 s)
    val q = graft.sources.Sources.fanOut(df)
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(transform(col(vecCol).cast("array<double>"),
        e => floor(e * 1000 + 0.5).cast("long")).as("__q"))
    val idx = sequence(lit(1), lit(dim))
    val ent = concat(
      array(struct(lit(0).as("i"), lit(0).as("j"), lit(1L).as("p"))),
      transform(idx, i => struct(i.as("i"), lit(0).as("j"),
        element_at(col("__q"), i).as("p"))),
      flatten(transform(idx, i => transform(sequence(i, lit(dim)), j =>
        struct(i.as("i"), j.as("j"),
          (element_at(col("__q"), i) * element_at(col("__q"), j)).as("p"))))))
    val moments = q.select(explode(ent).as("e"))
      .select(col("e.i"), col("e.j"), col("e.p"))
      .groupBy(col("i"), col("j")).agg(sum(col("p")).as("s"))
      .collect() // bounded by contract: 1 + d + d(d+1)/2 rows
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val n = BigInt(moments((0, 0)))
    require(n > 0, "pcaTopComponent: empty input")
    val m1 = Array.tabulate(dim)(i => BigInt(moments((i + 1, 0))))
    def m2(i: Int, j: Int): BigInt =
      BigInt(moments(if (i <= j) (i + 1, j + 1) else (j + 1, i + 1)))
    def scat(i: Int, j: Int): BigInt = n * m2(i, j) - m1(i) * m1(j)
    val scale = BigInt(1000000)
    var v = Array.fill(dim)(scale)
    for (_ <- 0 until iters) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => scat(i, j) * v(j)).sum)
      val mx = w.map(_.abs).max
      if (mx > 0)
        v = w.map(wi => wi.signum * (wi.abs * scale / mx))
    }
    val trace = (0 until dim).map(i => scat(i, i)).sum
    require(trace > 0, "pcaTopComponent: zero-variance input")
    val sv = Array.tabulate(dim)(i => (0 until dim).map(j => scat(i, j) * v(j)).sum)
    val lambda = (0 until dim).map(i => v(i) * sv(i)).sum /
      (0 until dim).map(i => v(i) * v(i)).sum
    val explained = lambda * 1000000 / trace
    require(lambda.isValidLong && explained.isValidLong,
      "pcaTopComponent: magnitudes exceed BIGINT — rescale the input")
    val spark = df.sparkSession
    import spark.implicits._
    (1 to dim).map(i =>
      (i, v(i - 1).toLong, lambda.toLong, explained.toLong))
      .toDF("dim_index", "loading_ppm", "lambda_scaled", "explained_ppm")
  }
}
