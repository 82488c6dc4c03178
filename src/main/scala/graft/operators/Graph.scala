package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Pin.PinOps

/** Iterative link-graph analytics. PageRank is the classic corpus-quality
  * signal for web-scale training data (a page linked from high-rank pages
  * is itself likely quality): Page, Brin, Motwani, Winograd, "The PageRank
  * Citation Ranking" (1999).
  *
  * All rank arithmetic is FIXED-POINT INTEGER (a `scale`-denominated Long
  * per node, `div` for every division): Long sums are associative, so the
  * result is bit-identical regardless of partitioning, merge order, or
  * engine — the same portability discipline as the minhash/BM25 oracles.
  * Floating-point PageRank cannot hash-compare across engines; fixed-point
  * can.
  */
object Graph {

  /** Simplified-damping PageRank over a directed edge list.
    *
    * Semantics (per node v, per iteration, all integer arithmetic):
    * {{{
    *   pr'(v) = scale*(100-dampingPct)/100
    *          + dampingPct * sum_{u -> v} (pr(u) div outdeg(u)) div 100
    * }}}
    * starting from `pr0 = scale` for every node that appears as a source
    * or destination. Duplicate edges count once (the edge list is
    * `distinct`-ed — a link is a link, not a vote per repetition).
    * Dangling nodes (no out-edges) leak their damped mass rather than
    * redistributing it — the standard simplified variant; redistribution
    * would add an all-to-one aggregate per iteration for a constant shift.
    *
    * Overflow bound: a node's incoming mass is at most `inDegree * scale`,
    * and the damping multiply needs `dampingPct * inMass` to fit in a
    * Long — so the maximum supported in-degree is about
    * `Long.MaxValue / (dampingPct * scale)` (~10^5 at the defaults).
    * Exceeding it fails LOUD (Spark 4 runs ANSI mode: Long overflow
    * raises ARITHMETIC_OVERFLOW, never wraps silently). For hub-heavy
    * graphs (web crawls, social follows), pass a smaller `scale` — 10^6
    * supports ~10^11 in-degree at the cost of rank resolution.
    *
    * Scale shape per iteration: one shuffle joining `pr` onto edges by
    * source, one partial-aggregated shuffle summing contributions by
    * destination, one join back to the node set — all on the (small,
    * node-sized) rank table; the (large) edge table is scanned once per
    * iteration and never re-keyed. On a real cluster, pre-partition the
    * edge table by source and the per-iteration exchange touches only
    * rank rows. Iteration count is a parameter, not a convergence loop.
    *
    * The loop stays LAZY by default: the repeated edge/degree subtrees in
    * the growing plan share one physical exchange (Spark's ReuseExchange
    * dedupes identical shuffles inside a job), so eager per-iteration
    * materialization only adds job-scheduling and storage overhead —
    * measured 1.4-2x slower on the q140 shape with either `persist` or
    * per-iteration `localCheckpoint`. What DOES grow with depth is the
    * logical plan itself (analyzer/optimizer cost, multiplicative
    * re-derivation across separate jobs), so every `checkpointEvery`
    * rounds the node-sized rank table is `localCheckpoint`-truncated
    * (blocks are ContextCleaner-collected when the result is dropped,
    * unlike `persist`, which pins the CacheManager).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, dampingPct: Int = 85,
      scale: Long = 1000000000000L, checkpointEvery: Int = 8): DataFrame = {
    require(iterations >= 0, s"iterations: $iterations")
    require(dampingPct >= 0 && dampingPct <= 100, s"dampingPct: $dampingPct")
    require(scale >= 100, s"scale: $scale")
    require(checkpointEvery >= 1, s"checkpointEvery: $checkpointEvery")
    val src = col(srcCol).cast("long").as("src")
    val dst = col(dstCol).cast("long").as("dst")
    val e = edges.filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(src, dst).distinct()
    val nodes = e.select(col("src").as("node_id"))
      .union(e.select(col("dst").as("node_id"))).distinct()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val teleport = scale / 100 * (100 - dampingPct) +
      scale % 100 * (100 - dampingPct) / 100
    // (teleport = scale*(100-dampingPct)/100 without overflow for any
    // scale <= Long.Max/100 split; exact when 100 | scale, as the default)
    var pr = nodes.select(col("node_id"), lit(scale).as("pr"))
    var i = 0
    while (i < iterations) {
      val contrib = e
        .join(pr.withColumnRenamed("node_id", "src"), "src")
        .join(deg, "src")
        .groupBy(col("dst"))
        .agg(sum(expr("pr div deg")).as("in_mass"))
      pr = nodes
        .join(contrib.withColumnRenamed("dst", "node_id"), Seq("node_id"), "left")
        .select(col("node_id"),
          (lit(teleport) +
            expr(s"$dampingPct * coalesce(in_mass, 0L) div 100")).as("pr"))
      i += 1
      if (i % checkpointEvery == 0 && i < iterations) pr = pr.pinEager()
    }
    pr
  }

  /** Personalized PageRank: teleport mass flows only to `seeds` instead
    * of uniformly — rank becomes proximity to the seed set, the classic
    * seed-expansion signal for corpus curation (grow a trusted-domain
    * set by ranking the whole graph against it; Haveliwala,
    * "Topic-Sensitive PageRank", WWW 2002). Same fixed-point integer
    * arithmetic, overflow bound, and lazy-loop shape as [[pageRank]];
    * non-seed nodes with no in-links converge to rank 0. Seeds are a
    * node-id DataFrame (first column), deduplicated; seeds absent from
    * the graph contribute nothing.
    */
  def pageRankPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iterations: Int, dampingPct: Int = 85,
      scale: Long = 1000000000000L, checkpointEvery: Int = 8): DataFrame = {
    require(iterations >= 0, s"iterations: $iterations")
    require(dampingPct >= 0 && dampingPct <= 100, s"dampingPct: $dampingPct")
    require(scale >= 100, s"scale: $scale")
    require(checkpointEvery >= 1, s"checkpointEvery: $checkpointEvery")
    val src = col(srcCol).cast("long").as("src")
    val dst = col(dstCol).cast("long").as("dst")
    val e = edges.filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(src, dst).distinct()
    val nodes = e.select(col("src").as("node_id"))
      .union(e.select(col("dst").as("node_id"))).distinct()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val seedSet = seeds.select(seeds.columns.head).toDF("node_id")
      .filter(col("node_id").isNotNull)
      .select(col("node_id").cast("long").as("node_id")).distinct()
    val marked = nodes
      .join(seedSet.withColumn("__seed", lit(true)), Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("__seed"), lit(false)).as("__seed"))
    val teleport = scale / 100 * (100 - dampingPct) +
      scale % 100 * (100 - dampingPct) / 100
    val teleportCol = when(col("__seed"), lit(teleport)).otherwise(lit(0L))
    var pr = marked.select(col("node_id"), teleportCol.as("pr"), col("__seed"))
    var i = 0
    while (i < iterations) {
      val contrib = e
        .join(pr.select(col("node_id").as("src"), col("pr")), "src")
        .join(deg, "src")
        .groupBy(col("dst"))
        .agg(sum(expr("pr div deg")).as("in_mass"))
      pr = marked
        .join(contrib.withColumnRenamed("dst", "node_id"), Seq("node_id"), "left")
        .select(col("node_id"),
          (teleportCol +
            expr(s"$dampingPct * coalesce(in_mass, 0L) div 100")).as("pr"),
          col("__seed"))
      i += 1
      if (i % checkpointEvery == 0 && i < iterations) pr = pr.pinEager()
    }
    pr.select(col("node_id"), col("pr"))
  }

  /** HITS hubs & authorities (Kleinberg, "Authoritative Sources in a
    * Hyperlinked Environment", 1999) in exact integer arithmetic.
    *
    * Classic HITS L2-normalizes each half-step; a float norm would make
    * the result partitioning-dependent. Instead each half-step
    * MAX-normalizes by a POWER-OF-TWO shift: `k = bitlen(max) -
    * bitlen(scale)` (bit length via the engine-portable `length(bin(x))`),
    * then `value >> k`, which lands the maximum in `[scale, 2*scale)`.
    * Shifts and Long sums are exact and associative, so the output is
    * bit-identical across engines and partitionings, and values can never
    * overflow: post-shift scores are < 2*scale, so the next raw sum is
    * bounded by maxDegree * 2*scale (< 2^63 for any real graph with the
    * default 2^30 scale). Normalization changes only the global scalar
    * per half-step, so hub/authority RANKINGS match classic HITS.
    *
    * Scale shape per iteration: two edge-keyed joins + two node-sized
    * aggregations (the same Pregel shape as [[pageRank]]) plus two
    * single-row max lookups broadcast back. Unlike [[pageRank]], each
    * half-step `localCheckpoint`s its RAW scores before normalizing:
    * the scores subtree feeds BOTH the max aggregate and the normalize
    * projection, and without the checkpoint that double reference
    * re-computes the edge join per branch and compounds per half-step.
    * The edge list and node set are also materialized once up front:
    * the eager half-step jobs share no plan, so pageRank's
    * ReuseExchange argument does not apply here. Together: 9.3 s ->
    * 3.8 s on the q147 shape at sf0.1, on par with pageRank over the
    * same graph.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, scale: Long = 1L << 30): DataFrame = {
    require(iterations >= 1, s"iterations: $iterations")
    require(scale >= 2 && (scale & (scale - 1)) == 0,
      s"scale must be a power of two for exact shift-normalization: $scale")
    val scaleBits = java.lang.Long.toBinaryString(scale).length
    val src = col(srcCol).cast("long").as("src")
    val dst = col(dstCol).cast("long").as("dst")
    // hits runs one eager job PER half-step (see halfStep), so unlike
    // pageRank's single lazy job there is no shared exchange to reuse
    // across them — materialize the graph structure once instead of
    // re-deriving it from the source scan in every job
    val e = edges.filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(src, dst).distinct().pinEager()
    val nodes = e.select(col("src").as("node_id"))
      .union(e.select(col("dst").as("node_id"))).distinct().pinEager()

    // max-normalize by power-of-two shift: exact, and a no-op (k = 0)
    // while the maximum is still below 2*scale
    def normalized(scores: DataFrame, scoreCol: String): DataFrame = {
      val mx = scores.agg(max(col(scoreCol)).as("__mx"))
      scores.crossJoin(broadcast(mx))
        .select(col("node_id"), expr(
          s"shiftright($scoreCol, greatest(0, length(bin(__mx)) - $scaleBits))")
          .as(scoreCol))
    }
    def halfStep(scores: DataFrame, scoreCol: String, fromCol: String,
        toCol: String, outCol: String): DataFrame = normalized(
      nodes.join(
        e.join(scores.withColumnRenamed("node_id", fromCol), fromCol)
          .groupBy(col(toCol)).agg(sum(col(scoreCol)).as(outCol))
          .withColumnRenamed(toCol, "node_id"),
        Seq("node_id"), "left")
        .select(col("node_id"), coalesce(col(outCol), lit(0L)).as(outCol))
        .pinEager(),
      outCol)

    var hub = nodes.select(col("node_id"), lit(scale).as("hub"))
    var auth = nodes.select(col("node_id"), lit(0L).as("auth"))
    var i = 0
    while (i < iterations) {
      auth = halfStep(hub, "hub", "src", "dst", "auth")
      hub = halfStep(auth, "auth", "dst", "src", "hub")
      i += 1
    }
    hub.join(auth, Seq("node_id"))
  }

  /** Per-node triangle counts over an UNDIRECTED graph (direction and
    * duplicates in the input are erased; self-loops dropped), by
    * degree-ordered orientation — Suri & Vassilvitskii, "Counting
    * Triangles and the Curse of the Last Reducer" (WWW 2011).
    *
    * Each undirected edge is oriented from its lower-(degree, id) endpoint
    * to its higher one; every triangle then has exactly ONE vertex with
    * two out-edges, so wedges built from co-sourced oriented edge pairs
    * enumerate each triangle once. The orientation is the scale move: a
    * degree-d hub contributes `C(d, 2)` wedges unoriented but only
    * `C(out-deg, 2)` oriented, and oriented out-degree is O(sqrt(m)) —
    * the star-graph worst case that melts a naive node-iterator becomes
    * flat. Shape: two node-sized joins to attach (degree, id) ranks, one
    * self-join on the wedge apex, one closing equi-join against the
    * oriented edge set — all equi-joins on uniformly-hashed keys.
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val und = normalizeUndirected(edges, aCol, bCol)
      .pinLazy() // feeds nodes, degrees AND the orientation
    val nodes = und.select(col("u").as("node_id"))
      .union(und.select(col("v").as("node_id"))).distinct()
    val deg = und.select(explode(array(col("u"), col("v"))).as("node_id"))
      .groupBy(col("node_id")).agg(count(lit(1)).as("deg"))
    // orient lower (deg, id) -> higher; keep the head's rank for the
    // wedge ordering below
    val oriented = und
      .join(deg.select(col("node_id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node_id").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("lo"),
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("hi"),
        // the head's degree: degrees differ -> the greater one; equal ->
        // the shared value either way
        greatest(col("du"), col("dv")).as("dhi"))
      // both wedge sides AND the closing join read the oriented edge
      // list — unpinned, each re-derived the degree joins from raw
      // (plan-audit r12: 4 raw scans, now 1; edge-sized pins are the
      // Graph-module convention, the neighborhoodFunction e pin)
      .pinLazy()
    val e1 = oriented.select(col("lo"), col("hi").as("h1"), col("dhi").as("d1"))
    val e2 = oriented.select(col("lo"), col("hi").as("h2"), col("dhi").as("d2"))
    val wedges = e1.join(e2, Seq("lo"))
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("h1") < col("h2")))
    val triangles = wedges.join(
      oriented.select(col("lo").as("h1"), col("hi").as("h2")), Seq("h1", "h2"))
      .select(col("lo"), col("h1"), col("h2"))
    val perNode = triangles
      .select(explode(array(col("lo"), col("h1"), col("h2"))).as("node_id"))
      .groupBy(col("node_id")).agg(count(lit(1)).as("n_triangles"))
    nodes.join(perNode, Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Local clustering coefficient per node — the community-tightness
    * signal on top of [[triangleCounts]]: `C(v) = 2*T(v) / (d(v)*(d(v)-1))`
    * in exact ppm (integer div — the log-free hash-comparable rendering),
    * NULL for degree < 2 (no wedge exists; 0 would claim "open wedges,
    * none closed", a different statement). Costs one degree rollup and a
    * node-keyed join on top of the triangle pass — the Suri-Vassilvitskii
    * orientation still bounds the wedge volume.
    */
  def clusteringCoefficients(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val und = normalizeUndirected(edges, aCol, bCol).pinLazy()
    val deg = und.select(explode(array(col("u"), col("v"))).as("node_id"))
      .groupBy(col("node_id")).agg(count(lit(1)).as("degree"))
    triangleCounts(und, "u", "v")
      .join(deg, Seq("node_id"))
      .withColumn("clustering_ppm",
        when(col("degree") >= 2,
          call_function("div", col("n_triangles") * 2000000L,
            col("degree") * (col("degree") - 1L))))
  }

  /** The shared undirected-graph normalization of [[triangleCounts]] and
    * [[kCorePeel]]: nulls and self-loops out, direction and duplicates
    * erased via (least, greatest) + distinct — one definition of what an
    * undirected edge IS.
    */
  /** Public normalization entry for callers composing several undirected
    * ops over ONE graph (normalize + checkpoint once, pass to the
    * `...Undirected` variants).
    */
  def undirectedEdges(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    normalizeUndirected(edges, aCol, bCol)

  private def normalizeUndirected(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    edges.filter(a.isNotNull && b.isNotNull && a =!= b)
      .select(least(a, b).as("u"), greatest(a, b).as("v")).distinct()
  }

  /** `rounds` rounds of k-core peeling over an UNDIRECTED graph
    * (direction/duplicates erased, self-loops dropped): each round
    * removes every node whose degree in the REMAINING graph is below `k`,
    * the classic dense-subgraph extraction (Seidman, "Network structure
    * and minimum degree", 1983). Returns the surviving nodes with their
    * degree in the surviving subgraph. A fixed round count keeps the
    * result exactly oracle-comparable; peeling converges once no round
    * removes a node (survivor degrees all >= k then certify convergence —
    * callers needing the exact fixed point iterate until that holds).
    * Shape per round: one degree aggregation + two semi-joins, all
    * equi-keyed on node ids. Unlike [[pageRank]]'s linear lineage, each
    * round references the PREVIOUS edge set three times (degree rollup +
    * both semi-join probes), so a lazy loop re-derives it 3^rounds times
    * — the default per-round `localCheckpoint` measured 2.75x faster on
    * the q150 shape at sf0.1 (4.4 s lazy -> 1.6 s).
    */
  def kCorePeel(edges: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int, checkpointEvery: Int = 1): DataFrame = {
    require(k >= 1, s"k: $k")
    require(rounds >= 1, s"rounds: $rounds")
    require(checkpointEvery >= 1, s"checkpointEvery: $checkpointEvery")
    var e = normalizeUndirected(edges, aCol, bCol)
    var i = 0
    while (i < rounds) {
      val keep = e.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("n"))
      e = e.join(keep.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
      i += 1
      if (i % checkpointEvery == 0 && i < rounds) e = e.pinEager()
    }
    e.select(explode(array(col("u"), col("v"))).as("node_id"))
      .groupBy(col("node_id")).agg(count(lit(1)).as("deg"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over an
    * UNDIRECTED graph: every node starts as its own label; each round it
    * adopts the most frequent label among its neighbors, ties broken by
    * the SMALLEST label — the deterministic variant (classic LPA breaks
    * ties randomly, which can never hash-compare across engines). A fixed
    * round count keeps the result oracle-comparable, like [[kCorePeel]].
    *
    * Nodes are edge endpoints, so every node has >= 1 neighbor and each
    * round fully re-labels (no keep-own fallback needed). The
    * smallest-label tie-break is one `max(struct(cnt, -label))` — no
    * per-node window.
    *
    * Shape per round: one edge-scan joined to the node-sized label table
    * (shuffle keyed on node id) + two partial-agg rollups — the same
    * per-iteration cost envelope as [[pageRank]], and like it linear
    * lineage (each round reads the previous labels once), so no
    * checkpoint is needed at small fixed depths.
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      rounds: Int): DataFrame =
    labelPropagationUndirected(
      normalizeUndirected(edges, aCol, bCol).pinEager(), rounds)

  /** [[labelPropagation]] over an ALREADY-normalized undirected edge set
    * (columns (u, v), deduped, self-loop-free — [[modularityScaledUndirected]]'s
    * contract): callers evaluating communities (LPA + modularity over the
    * same graph) normalize and checkpoint ONCE instead of re-deriving the
    * upstream edge join per consumer (the q222 shape, 5.4 -> ~4 s).
    */
  def labelPropagationUndirected(und: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds: $rounds")
    // both directions: u hears v's label and v hears u's. localCheckpoint:
    // the edge set feeds label init + every round — a lazy plan would
    // re-derive the upstream edge join (rounds+1) times (the kCorePeel
    // lesson; measured 4.35 s -> ~1.6 s on the q211 shape at sf0.1)
    val ed = und.union(und.select(col("v").as("u"), col("u").as("v")))
      .pinEager()
    var labels = ed.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
    var i = 0
    while (i < rounds) {
      labels = ed
        .join(labels.withColumnRenamed("node", "v"), Seq("v"))
        .groupBy(col("u"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("u").as("node"))
        .agg(max(struct(col("cnt").as("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
      i += 1
    }
    labels
  }

  /** Newman modularity of a community assignment over an UNDIRECTED graph,
    * in EXACT integers: per community c,
    * `Q_c = in_c/m - (deg_c/(2m))^2`, scaled by the common denominator
    * `4m^2` to `q_scaled = 4*m*in_c - deg_c^2` — so the quality of a
    * clustering (e.g. [[labelPropagation]]'s) hash-compares across
    * engines; `Q = sum(q_scaled)/4m^2` recovers the float form.
    *
    * Shape: one 1-row edge-count broadcast; internal-edge counting joins
    * the label table onto both endpoints (node-keyed equi-joins); degree
    * sums ride the same label join. Communities without internal edges
    * still report via the degree side (full outer + zero-fill).
    */
  def modularityScaled(edges: DataFrame, aCol: String, bCol: String,
      labels: DataFrame): DataFrame =
    // und feeds three consumers (m, internal edges, degrees) — checkpoint
    // or pay the upstream edge derivation three times
    modularityScaledUndirected(
      normalizeUndirected(edges, aCol, bCol).pinEager(), labels)

  /** [[modularityScaled]] over a pre-normalized (u, v) edge set — pair
    * with [[labelPropagationUndirected]] to share one checkpointed graph.
    */
  def modularityScaledUndirected(und: DataFrame,
      labels: DataFrame): DataFrame = {
    require(labels.columns.toSeq == Seq("node", "label"),
      s"labels must be (node, label): ${labels.columns.mkString(",")}")
    require(und.columns.toSeq == Seq("u", "v"),
      s"undirected edges must be (u, v): ${und.columns.mkString(",")}")
    val m = und.agg(count(lit(1)).as("m"))
    val la = labels.select(col("node").as("u"), col("label").as("__la"))
    val lb = labels.select(col("node").as("v"), col("label").as("__lb"))
    val internal = und.join(la, Seq("u")).join(lb, Seq("v"))
      .filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label"))
      .agg(count(lit(1)).as("in_edges"))
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("__d"))
    val commStats = labels.join(deg, Seq("node"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("__d"), lit(0L))).as("deg_sum"))
    commStats.join(internal, Seq("label"), "full_outer")
      .crossJoin(broadcast(m))
      .select(col("label"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("in_edges"), lit(0L)).as("in_edges"),
        coalesce(col("deg_sum"), lit(0L)).as("deg_sum"),
        (lit(4L) * col("m") * coalesce(col("in_edges"), lit(0L)) -
          coalesce(col("deg_sum"), lit(0L)) * coalesce(col("deg_sum"), lit(0L)))
          .as("q_scaled"))
  }

  /** Degree assortativity coefficient (Newman, "Assortative mixing in
    * networks", 2002) over an UNDIRECTED graph: the Pearson correlation of
    * the degrees at the two ends of each edge. Positive = hubs link hubs
    * (social nets), negative = hubs link leaves (bipartite/infrastructure
    * nets) — the one-number summary that says which mixing regime a graph
    * is in before any community detection is worth running.
    *
    * With M = |edges|, A = sum(da*db), B = sum(da+db), C = sum(da^2+db^2)
    * over edges (each undirected edge counted ONCE; the symmetric formula
    * makes the orientation irrelevant):
    *   r = (4*M*A - B^2) / (2*M*C - B^2).
    * All four moments accumulate exactly; the products ride DECIMAL(38,0)
    * (B^2 alone passes 64 bits at ~10^5 edges x 10^4 degrees) and r is ONE
    * IEEE division of two exactly-computed integers — bit-identical on any
    * engine, the [[graft.pipeline.Inference.cohenKappa]] convention for a
    * statistic that can be negative (truncated-vs-floored integer division
    * diverges below zero). Degenerate graphs (all degrees equal, e.g. a
    * perfect matching) have a zero denominator and emit NULL.
    *
    * Shape: one degree rollup (keyed on node), two equi-joins tagging each
    * edge end with its degree (degree table ~ node count; broadcastable
    * for most graphs, AQE picks it up), one global partial agg. No
    * iteration, no window.
    */
  def degreeAssortativity(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    // pin: the normalized edge set feeds THREE subtrees (both arms of the
    // degree union + the tagged join) — unpinned, the upstream join +
    // distinct recomputes per branch (the q217/q221 recompute lesson)
    val und = normalizeUndirected(edges, aCol, bCol).pinLazy()
    val deg = und.select(col("u").as("node")
      ).unionAll(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val tagged = und
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "da"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "db"), "v")
    tagged.agg(
      count(lit(1)).as("n_edges"),
      sum(dec(col("da")) * col("db")).as("__a"),
      sum(dec(col("da")) + col("db")).as("__b"),
      sum(dec(col("da")) * col("da") + dec(col("db")) * col("db")).as("__c"))
      .select(col("n_edges"),
        (dec(col("n_edges")) * col("__a") * 4L - col("__b") * col("__b"))
          .cast("double").as("num_x"),
        (dec(col("n_edges")) * col("__c") * 2L - col("__b") * col("__b"))
          .cast("double").as("den_x"))
      .withColumn("assortativity",
        when(col("den_x") =!= 0d, col("num_x") / col("den_x")))
  }

  /** HyperANF neighborhood function + per-node effective radius (Boldi,
    * Rosa, Vigna 2011) — the billion-edge answer to "how far does
    * influence travel": every node carries an HLL register SET of the
    * nodes within r hops, and one round is `B_r(v) = B_{r-1}(v)
    * union_{v->w} B_{r-1}(w)`, i.e. an edge join + per-(node, bucket)
    * max — never a materialized neighbor-of-neighbor pair set (q398's
    * one-shot merge, iterated). Registers stay SPARSE ((node, bucket,
    * rho) rows, <= min(reach, 256) per node); each round is pinned
    * (localCheckpoint) so lineage stays flat, the LPA discipline.
    *
    * Output: one row per probe node with, per round, the raw-HLL ball
    * estimate `est_r` (ONE deterministic IEEE chain per row — the
    * register harmonic sum is a sum of dyadic rationals, exact in a
    * double, so order-independent; NOTE: the RAW estimator, biased
    * below ~2.5m elements — the standard small-range linear-counting
    * correction needs ln, which the engine-exactness discipline bans)
    * and the exact register count `nb_r`. `eff_radius` = the smallest
    * r whose REGISTER COUNT reaches >= 90% of the r = R count
    * (`nb_r * 10 >= 9 * nb_R`, pure integers) — register coverage is
    * monotone in true ball size and exact at every scale below bucket
    * saturation (~5m elements), where the raw estimate is mush at the
    * small end. The probe predicate bounds output, not work (every
    * node's registers advance; HyperANF's cost IS the propagation).
    */
  def neighborhoodFunction(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, probe: Column => Column): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds: $rounds (each round is a full edge join)")
    val e = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("t")).filter(col("s").isNotNull && col("t").isNotNull)
      .distinct().pinLazy()
    val nodes = e.select(col("s").as("node"))
      .unionByName(e.select(col("t").as("node"))).distinct()
    // round-0 registers: each node's ball is {itself} — one register
    // (bucket/rho from the shared md5 recipe, byte-identical to
    // Sketches.hllRegisters so the oracle replays it). Registers ride
    // PACKED as one 256-byte vector per node (position = bucket, value =
    // rho, 0 = absent — real rhos are >= 1): the per-round edge join then
    // moves ONE row per edge instead of one per (edge, register), and the
    // union's per-(node, bucket) max becomes an element-wise vector max
    // with map-side partials ([[graft.plans.ByteMaxAgg]]) — ~256x fewer
    // shuffled rows at round 4 saturation, identical register state
    // (optimization r15, guide §2.3 shuffle-fewer-bytes).
    val m = 256
    val md5c = md5(col("node").cast("string"))
    val byteMax = {
      import org.apache.spark.sql.GraftSqlBridge
      (c: Column) => GraftSqlBridge.column(graft.plans.ByteMaxAgg(
        GraftSqlBridge.expression(c), m).toAggregateExpression())
    }
    var regs = nodes
      .withColumn("hll_bucket",
        conv(substring(md5c, 1, 2), 16, 10).cast("int"))
      .withColumn("hll_rho",
        coalesce(nullif(instr(
          lpad(conv(substring(md5c, 3, 8), 16, 2), 32, "0"), "1"),
          lit(0)), lit(33)).cast("int"))
      .select(col("node"), transform(sequence(lit(0), lit(m - 1)),
        i => when(i === col("hll_bucket"), col("hll_rho"))
          .otherwise(lit(0)).cast("byte")).as("hll_regs"))
      .pinLazy()
    // estimates read the UNPACKED sparse rows — probe nodes only, so the
    // explode is output-grain; hllEstimate and the register count see
    // exactly the rows the row-form kept (rho >= 1)
    def estimates(packed: DataFrame, k: Int): DataFrame = {
      val r = packed
        .select(col("node"), posexplode(col("hll_regs"))
          .as(Seq("hll_bucket", "hll_rho")))
        .filter(col("hll_rho") > 0)
        .select(col("node"), col("hll_bucket").cast("int").as("hll_bucket"),
          col("hll_rho").cast("int").as("hll_rho"))
      graft.functions.Sketches.hllEstimate(r.withColumn("hll_b", lit(8)),
        Seq("node")).withColumnRenamed("hll_estimate", s"est_$k")
        .join(r.groupBy(col("node")).agg(count(lit(1)).as(s"nb_$k")), "node")
    }
    var out = estimates(regs.filter(probe(col("node"))), 0)
    for (r <- 1 to rounds) {
      val fromNeighbors = e.join(regs.withColumnRenamed("node", "t"), "t")
        .select(col("s").as("node"), col("hll_regs"))
      regs = regs.unionByName(fromNeighbors)
        .groupBy(col("node"))
        .agg(byteMax(col("hll_regs")).as("hll_regs"))
        .pinLazy()
      out = out.join(estimates(regs.filter(probe(col("node"))), r), "node")
    }
    val nbR = col(s"nb_$rounds")
    val effRadius = (0 until rounds).foldRight(lit(rounds.toLong)) {
      case (r, acc) => when(col(s"nb_$r") * 10L >= nbR * 9L, lit(r.toLong))
        .otherwise(acc)
    }
    out.withColumn("eff_radius", effRadius)
  }
}
