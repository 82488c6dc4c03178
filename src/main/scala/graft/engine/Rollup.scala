package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Pin.PinOps

/** Declared ROLLUP sidecars + subsumption-based aggregate rewrite — the
  * materialized-view-rewrite face of the warehouse, restricted to the
  * lattice shape warehouse dashboards actually have (Gray et al., "Data
  * Cube", ICDE 1996; the aggregate-matching rule in Calcite's
  * `AggregateStarTableRule` and Snowflake/BigQuery materialized-view
  * smart rewrite — public designs, re-expressed in the engine's
  * sidecar-table idiom).
  *
  * Shape: a model declares one or more rollups via [[rollupHook]]
  * (`postHooks = Seq(Rollup.rollupHook("by_flag", dims, measures))`),
  * which after EVERY materialization writes the partial-aggregate table
  * `<model>__rollup_<name>` (one row per dim tuple, one column per
  * measure partial) plus one spec row per measure in
  * `<model>__rollup_spec` — the same declare-then-read-by-name lifecycle
  * as [[TableStats.analyzeHook]]'s `__stats_*` sidecars. A downstream
  * model asks for an aggregate through `ctx.aggRef(dep, groupBy, wants,
  * preds)` and the REGISTRY decides where the answer comes from:
  *
  *  - some declared rollup SUBSUMES the request (requested grouping ⊆
  *    its dims, every predicate column ∈ its dims, every wanted
  *    aggregate derivable from its measures) -> the answer re-aggregates
  *    the rollup's partials — `sum` of stored sums, `sum` of stored
  *    counts, `min` of mins, `max` of maxes — a scan of
  *    O(|rollup dim tuples|) rows instead of the base relation. At
  *    100 TB this is the difference between a dashboard query reading a
  *    kilobyte-scale summary and re-scanning the corpus; correct because
  *    sum/count/min/max are commutative monoids, so re-aggregation over
  *    any partition of the base rows — including the partition BY DIM
  *    TUPLE the rollup stores — is exactly the direct aggregate
  *    (digit-exact for integral/decimal measures; float sums stay
  *    order-dependent, which is the caller's cast discipline, not the
  *    rewrite's).
  *  - no rollup subsumes -> the request computes from the base
  *    dependency unchanged. Either way the decision is logged to
  *    [[Registry.metadataOps]] and the ROWS are identical — the rewrite
  *    is a physical choice, never a semantics change.
  *
  * Ops are the four exactly-derivable monoids `sum | count | min | max`.
  * `avg` is deliberately NOT an op: Spark and the oracle disagree on
  * quotient scale/rounding, and served-vs-base would disagree on result
  * TYPE; derive it downstream from a declared sum and count (q512 does).
  * Subsumption picks the CHEAPEST covering rollup (fewest dims, ties by
  * name) — the standard lattice-ancestor choice.
  */
object Rollup {

  /** One declared measure. `count` counts rows (declare col = "*");
    * sum/min/max aggregate the named column. Partial column in the
    * stored rollup: `count_all` / `<op>_<col>`.
    */
  final case class Measure(op: String, col: String) {
    require(Seq("sum", "count", "min", "max").contains(op),
      s"rollup measure op must be sum|count|min|max, got '$op' " +
        "(derive avg downstream from a declared sum and count)")
    require(op != "count" || col == "*",
      s"count measures count ROWS — declare Measure(\"count\", \"*\"), got col='$col'")
    def partialName: String = if (op == "count") "count_all" else s"${op}_$col"
  }

  /** One requested output column of an aggRef: `alias` names the result
    * column (both the served and base plans produce it), `op`/`col` as
    * in [[Measure]].
    */
  final case class Want(alias: String, op: String, col: String) {
    def measure: Measure = Measure(op, col)
  }

  def specTable(model: String): String = s"${model}__rollup_spec"
  def rollupTable(model: String, rollup: String): String =
    s"${model}__rollup_$rollup"

  /** The partial-aggregate frame a rollup stores: one row per dim tuple.
    * Plain `groupBy(dims).agg(...)` — map-side partials combine and the
    * one shuffle is on the dim tuple, O(|tuples|) output per task.
    */
  def partials(df: DataFrame, dims: Seq[String],
      measures: Seq[Measure]): DataFrame = {
    require(dims.nonEmpty, "rollup dims must be non-empty")
    require(measures.nonEmpty, "rollup measures must be non-empty")
    val names = measures.map(_.partialName)
    require(names.distinct.size == names.size,
      s"duplicate rollup measures: ${names.diff(names.distinct).mkString(", ")}")
    val clash = names.intersect(dims)
    require(clash.isEmpty,
      s"rollup measure partial names collide with dims: ${clash.mkString(", ")}")
    val aggs = measures.map {
      case m @ Measure("count", _) => count(lit(1)).as(m.partialName)
      case m @ Measure("sum", c)   => sum(col(c)).as(m.partialName)
      case m @ Measure("min", c)   => min(col(c)).as(m.partialName)
      case m @ Measure("max", c)   => max(col(c)).as(m.partialName)
      case m => throw new IllegalStateException(s"unreachable: $m")
    }
    df.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Declared-rollup maintenance as a model post-hook (the
    * [[TableStats.analyzeHook]] position): after every materialization,
    * (re)write `<model>__rollup_<name>` over the full materialized
    * relation and merge this rollup's rows into `<model>__rollup_spec`
    * (several hooks declare several rollups; each owns its name's rows).
    * This is the recompute form — one aggregation scan per run, the same
    * cost class as the analyze hook. When the base is itself maintained
    * incrementally, the O(batch) form is an [[AggregateMat]] model over
    * the same dims/measures; aggRef serves from either, it only reads
    * tables by name.
    */
  def rollupHook(rollup: String, dims: Seq[String],
      measures: Seq[Measure]): Hook.Hook = ctx => {
    require(rollup.nonEmpty && rollup.matches("[A-Za-z0-9_]+"),
      s"rollup name must be a bare identifier, got '$rollup'")
    val model = ctx.model.getOrElse(throw new IllegalArgumentException(
      "rollupHook is a MODEL hook — run-level contexts carry no relation"))
    val rel = ctx.relation.getOrElse(ctx.wh.read(model))
    ctx.wh.writeSwap(rollupTable(model, rollup), partials(rel, dims, measures))
    declareSpec(ctx.spark, ctx.wh, model, rollup, dims, measures)
  }

  /** Merge one rollup's spec rows into `<model>__rollup_spec` WITHOUT
    * building partials — the declaration half alone, for rollups whose
    * partial table is maintained by something other than [[rollupHook]]:
    * an [[AggregateMat]] model NAMED `<model>__rollup_<rollup>` keeps the
    * partials with O(batch) incremental merges, and aggRef serves from it
    * by name exactly as from a hook-written sidecar (it only ever reads
    * tables).
    */
  def declareSpec(spark: org.apache.spark.sql.SparkSession, wh: Warehouse,
      model: String, rollup: String, dims: Seq[String],
      measures: Seq[Measure]): Unit = {
    import spark.implicits._
    val mine = measures.map(m => (rollup, dims.mkString("|"), m.op, m.col))
      .toDF("rollup_name", "dims", "m_op", "m_col")
    val spec =
      if (wh.exists(specTable(model)))
        wh.read(specTable(model))
          .filter(col("rollup_name") =!= rollup).unionByName(mine)
      else mine
    wh.writeSwap(specTable(model), spec)
  }

  /** Parsed spec rows: (rollup name, dims, measures). Register-grain —
    * one row per declared measure (the metadata-bounded contract all
    * sidecar reads follow).
    */
  def readSpec(spec: DataFrame): Seq[(String, Seq[String], Seq[Measure])] =
    spec.select("rollup_name", "dims", "m_op", "m_col").collect()
      .groupBy(r => (r.getString(0), r.getString(1))).toSeq
      .map { case ((name, dims), rows) =>
        (name, dims.split("\\|").toSeq,
          rows.toSeq.map(r => Measure(r.getString(2), r.getString(3))))
      }.sortBy(_._1)

  /** The subsumption rule: a rollup covers the request iff the requested
    * grouping and every predicate column fall inside its dims and every
    * wanted aggregate's (op, col) is a declared measure. Returns the
    * cheapest covering rollup (fewest dims, ties by name) — the lattice
    * ancestor with the fewest tuples.
    */
  def choose(spec: Seq[(String, Seq[String], Seq[Measure])],
      groupBy: Seq[String], wanted: Seq[Want],
      predCols: Seq[String]): Option[(String, Seq[String])] =
    spec.filter { case (_, dims, measures) =>
      groupBy.forall(dims.contains) && predCols.forall(dims.contains) &&
        wanted.forall(w => measures.contains(w.measure))
    }.sortBy { case (name, dims, _) => (dims.size, name) }
      .headOption.map { case (name, dims, _) => (name, dims) }

  /** Serve the request from a stored rollup: filter its dim rows, group
    * by the requested dims, re-aggregate the partials. Sums re-sum and
    * cast back to the PARTIAL's own type (Spark widens sum-of-sum by ten
    * digits; the cast restores the exact type the base plan produces —
    * values fit, both paths total the same base rows); counts re-sum to
    * long; min/max keep their natural type. Row- and type-identical to
    * [[direct]] over the base.
    */
  def answer(rollup: DataFrame, groupBy: Seq[String], wanted: Seq[Want],
      filters: Seq[Column]): DataFrame = {
    val filtered = filters.foldLeft(rollup)(_.filter(_))
    val aggs = wanted.map { w =>
      val p = w.measure.partialName
      w.op match {
        case "sum"   => sum(col(p)).cast(rollup.schema(p).dataType).as(w.alias)
        case "count" => sum(col(p)).cast("long").as(w.alias)
        case "min"   => min(col(p)).as(w.alias)
        case "max"   => max(col(p)).as(w.alias)
        case other => throw new IllegalArgumentException(s"aggRef op: $other")
      }
    }
    if (groupBy.isEmpty) filtered.agg(aggs.head, aggs.tail: _*)
    else filtered.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact cuboid cardinalities for the whole lattice over `dims` in ONE
    * scan: `CUBE` emits every subset's distinct tuples tagged by
    * grouping_id, so counting rows per gid prices all 2^d candidate
    * rollups for the cost of one aggregation pass (at 100 TB the
    * alternative — one countDistinct pass per subset — is 2^d scans).
    * Returned masks use bit i = dims(i) IS IN the subset (the complement
    * of Spark's grouping_id, whose set bits mean rolled-up).
    */
  /** grouping_id gives the FIRST grouping column the HIGHEST bit; these
    * masks use the natural convention (bit i = dims(i) in the subset),
    * so convert by reversing the low `n` bits.
    */
  private def revBits(m: Int, n: Int): Int =
    (0 until n).map(i => ((m >> i) & 1) << (n - 1 - i)).sum

  def cuboidSizes(df: DataFrame, dims: Seq[String]): Seq[(Int, Long)] = {
    require(dims.nonEmpty && dims.size <= 10,
      s"lattice over ${dims.size} dims — 1..10 supported")
    val n = dims.size
    val full = (1 << n) - 1
    df.cube(dims.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        grouping_id(dims.map(col): _*).as("__gid"))
      .groupBy("__gid").agg(count(lit(1)).as("__rows"))
      .collect()
      .map(r => (revBits(full ^ r.getLong(0).toInt, n), r.getLong(1)))
      .toSeq.sortBy(_._1)
  }

  /** Greedy view selection over the rollup lattice (Harinarayan,
    * Rajaraman & Ullman, SIGMOD '96 — the HRU benefit heuristic, within
    * (1 − 1/e) of optimal for this monotone objective): given each
    * cuboid's size (from [[cuboidSizes]] — register grain), a workload
    * of (query mask, weight) rows, and a budget of `k` rollups to
    * materialize beside the always-available top cuboid, repeatedly pick
    * the candidate with the largest total benefit
    *
    * {{{ benefit(v) = Σ_q  w_q · max(0, cost(q) − size(v))  for q ⊆ v }}}
    *
    * where cost(q) is the size of the cheapest already-chosen superset
    * (the top cuboid to start). Subset tests are mask arithmetic
    * ((q & v) == q), so an oracle replays every pick with integer SQL.
    * Ties break toward the smaller size, then the smaller mask. Returns
    * one row per candidate: (mask, size, pick round 0|1|2|…, benefit at
    * pick — round-1 benefit for unpicked candidates, for the audit
    * trail). Driver-side on 2^d register-grain rows by design.
    */
  def latticeAdvisor(sizes: Seq[(Int, Long)], topMask: Int,
      workload: Seq[(Int, Long)], k: Int): Seq[(Int, Long, Int, Long)] = {
    require(k >= 1, s"budget must be >= 1, got $k")
    val sizeOf = sizes.toMap
    require(sizeOf.contains(topMask), "sizes must include the top cuboid")
    workload.foreach { case (q, _) => require((q & topMask) == q,
      s"workload mask $q outside the lattice $topMask") }
    val candidates = sizes.map(_._1).filter(m => m != topMask && m != 0)
    var chosen = List(topMask)
    def cost(q: Int): Long =
      chosen.filter(v => (q & v) == q).map(sizeOf).min
    def benefit(v: Int): Long = workload.collect {
      case (q, w) if (q & v) == q => w * math.max(0L, cost(q) - sizeOf(v))
    }.sum
    val firstRound = candidates.map(v => v -> benefit(v)).toMap
    val picks = scala.collection.mutable.Map.empty[Int, (Int, Long)]
    for (round <- 1 to k) {
      val open = candidates.filterNot(chosen.contains)
      if (open.nonEmpty) {
        val best = open.maxBy(v => (benefit(v), -sizeOf(v), -v))
        picks(best) = (round, benefit(best))
        chosen ::= best
      }
    }
    sizes.filter(_._1 != 0).map { case (m, sz) =>
      val (round, ben) =
        if (m == topMask) (0, 0L)
        else picks.getOrElse(m, (0, firstRound(m)))
      (m, sz, round, ben)
    }
  }

  /** Build the partial tables of SEVERAL lattice members in one base
    * scan: a single GROUPING SETS aggregation produces every requested
    * subset's partials (tagged by grouping_id), pinned once
    * (localCheckpoint — the frame is Σ cuboid sizes, register grain
    * relative to the base), then sliced per subset. The per-subset
    * result is row- and type-identical to [[partials]] over the base —
    * the q541 matched pin — but the base is read ONCE however many
    * rollups the advisor chose.
    */
  def partialsMany(df: DataFrame, subsets: Seq[Seq[String]],
      measures: Seq[Measure]): Seq[(Seq[String], DataFrame)] = {
    require(subsets.nonEmpty, "partialsMany: no subsets")
    val dims = subsets.flatten.distinct
    val n = dims.size
    val full = (1 << n) - 1
    def maskOf(s: Seq[String]): Int =
      s.map(c => 1 << dims.indexOf(c)).sum
    val aggs = measures.map {
      case m @ Measure("count", _) => count(lit(1)).as(m.partialName)
      case m @ Measure("sum", c)   => sum(col(c)).as(m.partialName)
      case m @ Measure("min", c)   => min(col(c)).as(m.partialName)
      case m @ Measure("max", c)   => max(col(c)).as(m.partialName)
      case m => throw new IllegalStateException(s"unreachable: $m")
    }
    val withGid = grouping_id(dims.map(col): _*).as("__gid") +: aggs
    val tagged = df
      .groupingSets(subsets.map(_.map(col)), dims.map(col): _*)
      .agg(withGid.head, withGid.tail: _*)
      .pinLazy()
    subsets.map { s =>
      val gid = (full ^ revBits(maskOf(s), n)).toLong
      s -> tagged.filter(col("__gid") === gid)
        .select((s.map(col) ++ measures.map(m => col(m.partialName))): _*)
    }
  }

  /** Yan-Larson EAGER AGGREGATION (VLDB '95 — "eager group-by") composed
    * from this module's own partial/answer machinery: an aggregate over
    * `fact ⋈ dim` that groups on DIM attributes is rewritten to
    * pre-aggregate the fact by its JOIN KEY first, join the key-grain
    * partials to the dim, and re-aggregate — correct for the monoid
    * measures because every fact row's contribution rides its key's
    * partial, and a key matching m dim rows contributes its partial m
    * times on both plans (no uniqueness assumption on either side; the
    * usual case m ∈ {0,1} just drops or keeps partials).
    *
    * The 100 TB point is what crosses the join: the raw plan shuffles
    * EVERY fact row to meet the dim; this plan shuffles one partial row
    * per distinct key — for a fact with billions of rows over millions
    * of keys, orders of magnitude less exchange volume, and the partial
    * aggregation itself is map-side combinable. `filters` must reference
    * dim columns or the join keys (they apply after the join, where only
    * those survive at partial grain).
    */
  def eagerAgg(fact: DataFrame, dim: DataFrame, keys: Seq[String],
      groupBy: Seq[String], wanted: Seq[Want],
      filters: Seq[Column] = Nil): DataFrame = {
    require(keys.nonEmpty, "eagerAgg: empty join key list")
    val meas = wanted.map(_.measure).distinct
    answer(partials(fact, keys, meas).join(dim, keys), groupBy, wanted,
      filters)
  }

  /** The base-relation plan (the fallback, and the semantics both paths
    * must equal): filter, group, aggregate directly.
    */
  def direct(df: DataFrame, groupBy: Seq[String], wanted: Seq[Want],
      filters: Seq[Column]): DataFrame = {
    require(wanted.nonEmpty, "aggRef: empty aggregate list")
    val aliases = wanted.map(_.alias)
    require(aliases.distinct.size == aliases.size,
      s"aggRef: duplicate aliases ${aliases.diff(aliases.distinct).mkString(", ")}")
    val filtered = filters.foldLeft(df)(_.filter(_))
    val aggs = wanted.map { w =>
      w.op match {
        case "sum"   => sum(col(w.col)).as(w.alias)
        case "count" => count(lit(1)).as(w.alias)
        case "min"   => min(col(w.col)).as(w.alias)
        case "max"   => max(col(w.col)).as(w.alias)
        case other => throw new IllegalArgumentException(
          s"aggRef op must be sum|count|min|max, got '$other' " +
            "(derive avg downstream from a declared sum and count)")
      }
    }
    if (groupBy.isEmpty) filtered.agg(aggs.head, aggs.tail: _*)
    else filtered.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Row-filter rendering of aggRef predicates (they land on dim columns
    * of whichever relation answers — rollup rows are per dim tuple, so a
    * dim filter before re-aggregation equals the base filter exactly).
    * RefPeriod has no column to filter on and raises, as in ctx.ref.
    */
  def predFilters(preds: Seq[RefPred]): Seq[Column] = preds.map {
    case RefRange(c, lo, hi) => col(c) >= lo && col(c) <= hi
    case RefIn(c, vs)        => col(c).isin(vs: _*)
    case RefPrefix(c, p)     => col(c).startsWith(p)
    case RefPeriod(f, t) => throw new IllegalArgumentException(
      s"aggRef(RefPeriod($f, $t)): period windows prune by directory and " +
        "cannot serve as a dim filter — declare the period column as a dim")
  }

  /** The predicate columns subsumption checks against. */
  def predColumns(preds: Seq[RefPred]): Seq[String] = preds.map {
    case RefRange(c, _, _) => c
    case RefIn(c, _)       => c
    case RefPrefix(c, _)   => c
    case RefPeriod(f, t) => throw new IllegalArgumentException(
      s"aggRef(RefPeriod($f, $t)): period windows have no dim column")
  }
}
