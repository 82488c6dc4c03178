package graft.engine

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Pin.PinOps

/** Model/DAG layer — the reference's dbt lifecycle (SURVEY §3) without Jinja:
  * a model is a named Scala function of its resolved dependencies; the
  * registry topo-sorts and the materializer interprets each model's config
  * into DataFrame actions against a Warehouse.
  *
  * Materialization semantics (dbt_project.yml:19-33 + per-model config):
  *  - View: lazy DataFrame registered under the model name (no I/O).
  *  - Table: eager swap-write (S4/S5).
  *  - Inc: first run CTAS, later runs strategy-DML (incremental.sql:67-186);
  *    the model fn receives `isIncremental` + the existing target (I6).
  *  - Snap: SCD2 history maintenance (§2.6).
  */
/** A declared predicate on a `ref` — the manifest-aware read path
  * (VERDICT r13 #5): a model that knows its dependency read is bounded
  * ("this window", "these keys", "cents in [lo, hi]") declares it here
  * and the materializer routes the read through the warehouse's
  * data-skipping sidecars ([[Warehouse.readPeriodRange]] directory
  * pruning, [[Warehouse.readPrunedBox]] min/max stats,
  * [[Warehouse.readPrunedIn]] bloom+stats) — file skipping a plain
  * `ctx.ref(name).filter(...)` can never get, because Spark's scan has
  * already listed every file before the filter prunes rows. Semantics
  * are EXACTLY `ref(name)` plus the row-level predicates (the pruned
  * readers' identity contract); declined/stale manifests degrade to the
  * full scan, never a wrong answer.
  */
sealed trait RefPred
/** `column BETWEEN lo AND hi` on an integral column (epoch days / cents
  * — the fixed-point discipline). Served by the stats manifest.
  */
final case class RefRange(column: String, lo: Long, hi: Long) extends RefPred
/** `column IN values`. Served by the bloom sidecar intersected with the
  * stats manifest (whichever evidence exists).
  */
final case class RefIn(column: String, values: Seq[Any]) extends RefPred
/** `column STARTS WITH prefix` on a string column — the leading-key /
  * partition-by-prefix lookup (brand, language, URL host). Served by
  * the stats manifest's truncated string bounds as the byte range
  * `[prefix, next-prefix)` ([[Warehouse.readPrunedPrefix]]).
  */
final case class RefPrefix(column: String, prefix: String) extends RefPred
/** Period window `[from, to]` over a period-partitioned layout
  * ([[Warehouse.overwritePeriods]] / microbatch targets): out-of-window
  * partition dirs are never listed. Warehouse relations only — a mocked
  * or view dependency has no period layout (its period key lives in dir
  * names, not a column), so the fallback RAISES instead of guessing.
  */
final case class RefPeriod(from: String, to: String) extends RefPred

/** The materializer's resolved choice for one declared join: a plan
  * hint for [[TableStats.applyAdvice]], or the certified hot/cold
  * split with the hot values (string-rendered — [[ModelContext.join]]
  * converts per the fact key's type).
  */
sealed trait PlannedJoinChoice
final case class PlannedHint(plan: String) extends PlannedJoinChoice
final case class PlannedHotCold(hotVals: Seq[String]) extends PlannedJoinChoice

final case class ModelContext(
    spark: SparkSession,
    deps: Map[String, DataFrame],
    isIncremental: Boolean,
    existingTarget: Option[DataFrame],
    /** Routes a declared-predicate ref through the warehouse sidecars;
      * None when the dep is not a warehouse relation (source / view /
      * mocked input) — the ref then falls back to row-level filters on
      * the dep frame. Defaulted so fixture contexts (unit tests,
      * lineage) construct unchanged.
      */
    prunedResolver: (String, Seq[RefPred]) => Option[DataFrame] =
      (_, _) => None,
    /** Resolves a declared join's physical plan ("broadcast_left" /
      * "broadcast_right" / "shuffle") from the hook-maintained
      * `__stats_*` sidecars of the two dependencies; None when either
      * side lacks a stored profile for the key — Catalyst then keeps
      * its own judgement. Args: (a, b, keys, broadcastMaxRows,
      * recordFeedback). Defaulted so fixture contexts (unit tests,
      * lineage) construct unchanged and [[join]] degrades to the plain
      * join there — dbt's position exactly: unit tests never exercise
      * materialization physics.
      */
    plannedJoin: (String, String, Seq[String], Long, Boolean, Option[Long])
        => Option[PlannedJoinChoice] = (_, _, _, _, _, _) => None,
    /** Resolves a declared star join's dimension ORDER + per-step plan
      * from stored profiles; the fixture default keeps declaration
      * order with no hints (materialization physics stay un-exercised
      * in unit tests, like [[plannedJoin]]'s default).
      */
    plannedStarOrder: (String, Seq[(String, Seq[String])], Long)
        => Seq[(String, Seq[String], String)] =
      (_, dims, _) => dims.map { case (n, k) => (n, k, "shuffle") },
    /** Resolves a declared aggregate request from a dependency's rollup
      * sidecars ([[Rollup]] subsumption rewrite); None when no declared
      * rollup subsumes — [[aggRef]] then computes from the base
      * dependency. Defaulted so fixture contexts (unit tests, lineage)
      * construct unchanged and aggRef degrades to the direct aggregate
      * there, like every other materialization-physics resolver here.
      */
    aggResolver: (String, Seq[String], Seq[Rollup.Want], Seq[RefPred])
        => Option[DataFrame] = (_, _, _, _) => None,
    /** Decides whether a declared lookup join may be ELIMINATED from the
      * verified-constraint sidecars ([[Constraints]]); false refuses and
      * [[lookupJoin]] runs the real join. Args: (fact, dim, keys, how).
      * Defaulted false so fixture contexts never exercise
      * materialization physics — the same contract as every resolver
      * above.
      */
    lookupResolver: (String, String, Seq[String], String) => Boolean =
      (_, _, _, _) => false,
    /** Decides whether `cols` of a dependency are ALREADY distinct (a
      * verified key is a subset of them); false refuses and
      * [[distinctRef]] pays the distinct shuffle.
      */
    distinctResolver: (String, Seq[String]) => Boolean = (_, _) => false) {
  def ref(name: String): DataFrame = deps(name)

  /** Declared LOOKUP join — the semantic-optimization face of the cost
    * model in the materializer: row-identical to
    * `ref(fact).join(ref(dim), keys, how).select(need)`, but when the
    * consumed columns all come from the fact side and the verified-
    * constraint sidecars PROVE the join cannot change multiplicity, the
    * join is eliminated outright and the plan is the fact scan alone —
    * at 100 TB the only join cheaper than a broadcast join is no join:
    *
    *  - `how = "left"`: sound iff the dim's `keys` carry a verified
    *    key constraint (unique + non-null — [[Constraints.verifiedKey]]);
    *    a left join to a unique key matches at most once, and unmatched
    *    fact rows keep their columns anyway.
    *  - `how = "inner"`: additionally needs verified TOTAL participation
    *    of the fact's keys in the dim ([[Constraints.verifiedFkTotal]] —
    *    no NULL fact keys, no orphans), the condition under which the
    *    inner join drops no fact row.
    *
    * Constraint currency is checked against both relations' storage
    * signatures at plan time; ANY doubt (unverified, stale, dep not
    * warehouse-backed, a dim column in `need`) refuses and runs the real
    * join — stale knowledge can cost a join, never a wrong row. The
    * decision is logged to [[Registry.metadataOps]].
    */
  def lookupJoin(fact: String, dim: String, keys: Seq[String],
      need: Seq[String], how: String = "left"): DataFrame = {
    require(deps.contains(fact), s"'$fact' is not a declared dependency")
    require(deps.contains(dim), s"'$dim' is not a declared dependency")
    require(keys.nonEmpty, s"lookupJoin('$fact','$dim'): empty key list")
    require(need.nonEmpty, s"lookupJoin('$fact','$dim'): empty need list")
    require(how == "left" || how == "inner",
      s"lookupJoin supports left/inner, got '$how'")
    import org.apache.spark.sql.functions.col
    val factCols = deps(fact).columns.toSet
    if (need.forall(factCols.contains) && lookupResolver(fact, dim, keys, how))
      deps(fact).select(need.map(col): _*)
    else deps(fact).join(deps(dim), keys, how).select(need.map(col): _*)
  }

  /** Declared DISTINCT ref — row-identical to
    * `ref(name).select(cols).distinct()`, but when a verified key of the
    * dependency is a subset of `cols` the rows are provably already
    * distinct and the shuffle is eliminated (the aggregate-elimination
    * rewrite, same refusal discipline as [[lookupJoin]]).
    */
  def distinctRef(name: String, cols: Seq[String]): DataFrame = {
    require(deps.contains(name), s"'$name' is not a declared dependency")
    require(cols.nonEmpty, s"distinctRef('$name'): empty column list")
    import org.apache.spark.sql.functions.col
    val base = deps(name).select(cols.map(col): _*)
    if (distinctResolver(name, cols)) base else base.distinct()
  }

  /** Declared AGGREGATE ref — the materialized-view-rewrite face of the
    * cost-model-in-the-materializer series ([[join]] chose the physical
    * join, [[ref]] with predicates chose the files; this chooses the
    * RELATION): row-identical to
    * `ref(name).filter(preds).groupBy(groupBy).agg(wants)`, but when
    * some [[Rollup.rollupHook]]-maintained rollup sidecar of the
    * dependency SUBSUMES the request (grouping and predicate columns
    * inside its dims, every aggregate derivable from its measures), the
    * answer re-aggregates that rollup's partials instead of scanning the
    * base — O(dim tuples) read, the decision logged to
    * [[Registry.metadataOps]]. Ops: sum | count | min | max (exact
    * monoids — see [[Rollup]] for why avg is derived, not declared).
    */
  def aggRef(name: String, groupBy: Seq[String], wants: Seq[Rollup.Want],
      preds: Seq[RefPred] = Nil): DataFrame = {
    require(deps.contains(name), s"'$name' is not a declared dependency")
    require(wants.nonEmpty, s"aggRef('$name'): empty aggregate list")
    aggResolver(name, groupBy, wants, preds).getOrElse(
      Rollup.direct(deps(name), groupBy, wants, Rollup.predFilters(preds)))
  }

  /** Declared equi-join between two dependencies — the COST MODEL as
    * part of the materializer, not per-query driver code (the dbt
    * position that config, not model SQL, owns materialization physics;
    * dbt_project.yml:19-33): row-identical to
    * `ref(a).join(ref(b), keys)`, but the PHYSICAL plan choice resolves
    * from the dependencies' hook-maintained statistics sidecars
    * ([[TableStats.analyzeHook]] writes them after every
    * materialization, in DAG order — so the profile a downstream model
    * reads is the one THIS run's upstream refresh produced):
    *
    *  - both sides profiled for the key -> the System-R broadcast
    *    decision from stored non-null counts (the smaller side
    *    broadcasts iff it fits `broadcastMaxRows`, ties broadcast the
    *    left — [[TableStats.adviseEquiJoin]]'s exact decision), applied
    *    as the plan hint via [[TableStats.applyAdvice]];
    *  - either profile missing -> NO hint is planted and Catalyst/AQE
    *    keep their own judgement (advice only ever ADDS a broadcast
    *    that row-count statistics prove safe — the manual
    *    `TableStats.readProfile`/`applyAdvice` path stays available as
    *    the escape hatch).
    *
    * Composite keys profile under their `k1|k2` rendering — declare the
    * same composite spec in the analyze hook ([[TableStats]] composite
    * column groups). The decision is logged to [[Registry.metadataOps]]
    * with the counts it read; plan-time cost is two register-grain
    * sidecar lookups (the metadata-bounded contract every manifest read
    * follows).
    *
    * `recordFeedback = true` additionally records the LEO observation
    * (Stillger et al., VLDB 2001) after the model materializes: one
    * `(family, est, est_adjusted, actual)` row appended to the
    * registry's declared feedback table, where `actual` is the row
    * count of THIS model's materialized relation — the contract is that
    * the model's output is row-identical to the join (one recording
    * join per model; the registry raises otherwise). Estimates for the
    * same family on LATER runs multiply by the stored aggregate ratio
    * ([[TableStats.feedbackAdjust]]'s exact form) — the loop closes
    * through storage, no bespoke plumbing.
    */
  def join(a: String, b: String, keys: Seq[String],
      broadcastMaxRows: Long = 1000000L,
      recordFeedback: Boolean = false,
      /** Opt-in certified skew routing (the q492/q501 evidence as a
        * declared surface): when set, the resolver reads `a`'s
        * hook-maintained Misra-Gries sidecar (`__stats_mg` — declare
        * `mgCols` on the analyze hook) and, if any key's STORED count
        * certifies at least this many ppm of `a`'s rows (stored MG
        * counts are lower bounds, so certification is sound; pick a
        * threshold at or above 1e6/(mgK+1) so the no-false-negative
        * law also makes the hot list complete), routes the join
        * through [[Skew.hotColdJoin]] — the hot slice broadcasts and
        * never shuffles on its key, the cold tail takes the ordinary
        * shuffle join, and the union is exactly the plain inner join.
        * No certified key -> the ordinary broadcast decision applies.
        * Single-column keys only (the hot/cold split is per-key).
        */
      routeSkewPpm: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, s"join('$a', '$b'): empty key list")
    require(deps.contains(a), s"'$a' is not a declared dependency")
    require(deps.contains(b), s"'$b' is not a declared dependency")
    require(routeSkewPpm.isEmpty || keys.size == 1,
      "skew routing joins on ONE key column")
    plannedJoin(a, b, keys, broadcastMaxRows, recordFeedback,
        routeSkewPpm) match {
      case Some(PlannedHotCold(hotStrs)) =>
        import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
        val vals: Seq[Any] = deps(a).schema(keys.head).dataType match {
          case LongType => hotStrs.map(_.toLong)
          case IntegerType => hotStrs.map(_.toInt)
          case StringType => hotStrs
          case other => throw new IllegalArgumentException(
            s"skew routing supports long/int/string keys, got $other")
        }
        Skew.hotColdJoin(deps(a), deps(b), keys.head, vals)
      case Some(PlannedHint(plan)) =>
        TableStats.applyAdvice(deps(a), deps(b), keys, plan)
      case None => deps(a).join(deps(b), keys)
    }
  }

  /** Declared STAR join — the join-ORDER face of the cost model in the
    * materializer (Selinger's ordering question restricted to the shape
    * warehouse models actually have: one fact, N dimension equi-joins,
    * left-deep): row-identical to folding `ref(fact).join(ref(dim_i),
    * keys_i)` in ANY order (inner equi-joins commute), but the ORDER is
    * chosen from the hook-maintained profiles — dims ascend by their
    * System-R single-join estimate against the fact
    * (`n_fact * n_dim div max(ndv_fact_key, ndv_dim_key)`, the greedy
    * most-selective-first heuristic that minimizes every left-deep
    * intermediate under containment — q493/q499's stored-stats pick,
    * now declared instead of hand-wired), ties by name, dims WITHOUT
    * stored profiles last in declaration order with no estimate. Each
    * step independently applies the [[join]] broadcast decision from
    * the dim's stored count vs `broadcastMaxRows`. The resolved order
    * and every estimate are logged to [[Registry.metadataOps]];
    * plan-time cost is 2(N+1) register-grain sidecar lookups.
    */
  def starJoin(fact: String, dims: Seq[(String, Seq[String])],
      broadcastMaxRows: Long = 1000000L): DataFrame = {
    require(dims.nonEmpty, s"starJoin('$fact'): no dimensions")
    require(deps.contains(fact), s"'$fact' is not a declared dependency")
    dims.foreach { case (dname, keys) =>
      require(deps.contains(dname), s"'$dname' is not a declared dependency")
      require(keys.nonEmpty, s"starJoin dim '$dname': empty key list")
    }
    val ordered = plannedStarOrder(fact, dims, broadcastMaxRows)
    ordered.foldLeft(deps(fact)) { case (acc, (dname, keys, plan)) =>
      plan match {
        case "broadcast_dim" =>
          acc.join(org.apache.spark.sql.functions.broadcast(deps(dname)), keys)
        case _ => acc.join(deps(dname), keys)
      }
    }
  }

  /** Declared-predicate ref: identical rows to
    * `ref(name).filter(AND preds)`, with file/directory skipping when
    * the dependency is a warehouse relation carrying the matching
    * sidecars. The fallback (non-warehouse dep) applies the predicates
    * row-level — except [[RefPeriod]], which has no column to filter on
    * and raises.
    */
  def ref(name: String, preds: Seq[RefPred]): DataFrame = {
    require(preds.nonEmpty, s"ref('$name', preds): empty predicate list — use ref(name)")
    require(deps.contains(name), s"'$name' is not a declared dependency")
    prunedResolver(name, preds).getOrElse {
      import org.apache.spark.sql.functions.col
      preds.foldLeft(deps(name)) {
        case (df, RefRange(c, lo, hi)) =>
          df.filter(col(c) >= lo && col(c) <= hi)
        case (df, RefIn(c, vs)) => df.filter(col(c).isin(vs: _*))
        case (df, RefPrefix(c, p)) => df.filter(col(c).startsWith(p))
        case (_, RefPeriod(f, t)) => throw new IllegalArgumentException(
          s"ref('$name', RefPeriod($f, $t)): dependency is not a " +
            "warehouse period layout — period windows prune by directory " +
            "and cannot be expressed as a row filter on this relation")
      }
    }
  }
}

sealed trait Materialization
case object ViewMat extends Materialization
final case class TableMat(clusterBy: Seq[String] = Nil) extends Materialization
/** Versioned table ([[Warehouse.writeVersioned]] as a materialization —
  * the Delta/Iceberg snapshot idea at model grain): every run writes the
  * NEXT immutable version instead of swapping the previous one away, so
  * any consumer can pin, re-read, audit, or diff an exact historical
  * state by number ("training run X read corpus v2"). `keep` bounds
  * retained versions (0 = unlimited); downstream deps resolve to the
  * CURRENT version. Time travel is [[Warehouse.readVersioned]] by name.
  */
final case class VersionedTableMat(keep: Int = 0) extends Materialization
final case class IncrementalMat(
    strategy: Incremental.Strategy,
    uniqueKey: Seq[String],
    onSchemaChange: Incremental.OnSchemaChange = Incremental.IgnoreChange) extends Materialization
final case class SnapshotMat(
    keys: Seq[String],
    strategy: Snapshot.Strategy,
    hardDeletes: Snapshot.HardDeletes,
    snapshotTime: Timestamp,
    /** dbt 1.9 `snapshot_meta_column_names`: canonical meta column ->
      * stored name. The STORED relation carries the configured names;
      * the SCD2 pipeline stays canonical (rename out on write, rename
      * back on read — dbt's config templating collapsed to a bijection).
      */
    metaColumnNames: Map[String, String] = Map.empty,
    /** dbt 1.9 `dbt_valid_to_current`: open rows store this SENTINEL in
      * valid_to instead of NULL (BI tools' BETWEEN filters want a real
      * upper bound, canonically '9999-12-31'). Same write/read bijection
      * as the name config: the pipeline computes on NULL-open rows, the
      * sentinel applies going to storage and strips coming back. The
      * sentinel must not be an achievable business timestamp — that is
      * the caller's contract, as in dbt.
      */
    validToCurrent: Option[Timestamp] = None) extends Materialization

/** Incremental AGGREGATE materialization ([[Incremental.mergeAggregates]]
  * as a Registry strategy): the model build returns per-key PARTIALS —
  * the full history's on the first run, the new slice's when
  * `ctx.isIncremental` — and incremental runs combine them into the stored
  * rollup by the declared per-column combiners (sum/min/max). The rollup
  * a row-level IncrementalMat cannot express: merge REPLACES a key's row,
  * an aggregate needs its combine function. Per-run cost O(batch + state).
  */
final case class AggregateMat(
    keys: Seq[String],
    combiners: Seq[(String, String)]) extends Materialization

/** S8 dynamic table (dbt-snowflake dynamic_table.sql:1-66): a continuously
  * refreshed materialized view whose MATERIALIZATION run manages only the
  * DDL/config — data refresh belongs to the refresher (our streaming
  * analogue, EventsStream). `targetLag` is the declared freshness budget
  * (drives the refresher's trigger interval); `clusterBy` is the physical
  * layout. A run over an existing table with an UNCHANGED config is a no-op,
  * exactly like the reference ('No configuration changes ... Continuing.').
  */
final case class DynamicTableConfig(targetLag: String = "1 hour",
    clusterBy: Seq[String] = Nil) {
  def serialize: String = s"targetLag=$targetLag\nclusterBy=${clusterBy.mkString(",")}"
}
object DynamicTableConfig {
  def deserialize(s: String): DynamicTableConfig = {
    val kv = s.linesIterator.map(_.split("=", 2)).collect {
      case Array(k, v) => k -> v
    }.toMap
    DynamicTableConfig(kv.getOrElse("targetLag", "1 hour"),
      kv.get("clusterBy").filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil))
  }
}

/** on_configuration_change (dynamic_table.sql:40-60): apply rebuilds with
  * the new config, continue keeps the existing table and warns, fail raises.
  */
sealed trait OnConfigChange
case object ApplyConfig    extends OnConfigChange
case object ContinueConfig extends OnConfigChange
case object FailConfig     extends OnConfigChange

final case class DynamicTableMat(
    config: DynamicTableConfig = DynamicTableConfig(),
    onConfigurationChange: OnConfigChange = ApplyConfig) extends Materialization

/** dbt `function` materialization (dbt-adapters
  * macros/materializations/functions/, dbt-snowflake
  * macros/materializations/functions/scalar.sql): the model materializes a
  * SCALAR SQL FUNCTION instead of a relation. Spark-native form: a SQL UDF
  * (`CREATE OR REPLACE TEMPORARY FUNCTION name(args) RETURNS type RETURN
  * body`, Spark 4) — declarative SQL Catalyst INLINES into every caller's
  * plan, so downstream models pay zero black-box-UDF cost: the body
  * optimizes, pushes down, and codegens like any expression. The model's
  * `build` is ignored (dbt's is too — the body lives in config); the
  * relation seat in the DAG is a one-row acknowledgment so hooks, tests,
  * and `ref` composition keep working uniformly.
  */
final case class FunctionMat(args: String, returns: String,
    body: String) extends Materialization

/** Hook execution context (dbt's `this`/`target` Jinja surface, Scala-first):
  * `relation` is the existing target for pre-hooks and the materialized
  * result for post-hooks (None when the model has never materialized);
  * run-level hooks get `model = None`.
  */
final case class HookContext(
    spark: SparkSession,
    wh: Warehouse,
    model: Option[String],
    relation: Option[DataFrame])

/** Model/run hooks (dbt pre_hook/post_hook + on-run-start/on-run-end;
  * dbt-snowflake/macros/materializations/incremental.sql:74-76,172-182 run
  * them inside every materialization). A hook is any side-effecting action
  * over the context — audit inserts, grants DDL, pruning — expressed as a
  * Scala function; [[Hook.sql]] gives the reference's string-SQL form.
  */
object Hook {
  type Hook = HookContext => Unit

  /** The dbt string-SQL hook: one statement run through the session
    * (temp views registered by earlier models/hooks are visible).
    */
  def sql(statement: String): Hook = ctx => { ctx.spark.sql(statement); () }
}

/** A generic test declared ON a model (dbt schema tests / `dbt build`):
  * `failing` renders the failing-rows relation over the materialized result;
  * thresholds follow the test harness (tests/helpers.sql:7-16). An Error
  * verdict aborts the run before downstream models build, like dbt build.
  */
final case class ModelTest(
    name: String,
    failing: DataFrame => DataFrame,
    failCalc: String = "count(*)",
    warnIf: Long => Boolean = _ > 0,
    errorIf: Long => Boolean = _ > 0,
    /** dbt `--store-failures`: materialize the failing rows to the audit
      * relation `test_failures__<model>__<test>` through the swap protocol
      * BEFORE severity is judged, so the table survives an error abort and
      * a clerical review reads exactly the rows the test counted (the
      * evaluation reruns against the STORED relation, not the live plan).
      * An all-pass run still (re)writes the empty table — dbt semantics:
      * the audit relation always reflects the latest run. */
    storeFailures: Boolean = false)

/** `preHooks`/`postHooks`: run around THIS model's materialization, in
  * declaration order, on the model's scheduler thread (DAG order holds:
  * a downstream model's pre-hook never runs before an upstream post-hook).
  * Microbatch models fire them once per batch window, like dbt.
  *
  * `grants`/`docs` are the S9 metadata surface (dbt-adapters
  * apply_grants.sql / persist_docs): accepted and PERSISTED as sidecar
  * metadata, with the intent logged to [[Registry.metadataOps]] — this
  * warehouse has no ACL store or catalog comment DDL to enforce them
  * against, so they must never alter data (RegistrySpec pins that).
  */
final case class Model(
    name: String,
    deps: Seq[String],
    mat: Materialization,
    build: ModelContext => DataFrame,
    tests: Seq[ModelTest] = Nil,
    preHooks: Seq[Hook.Hook] = Nil,
    postHooks: Seq[Hook.Hook] = Nil,
    grants: Map[String, Seq[String]] = Map.empty,
    docs: Option[String] = None,
    tags: Seq[String] = Nil,
    fingerprint: Option[String] = None,
    contract: Option[Seq[(String, String)]] = None,
    group: Option[String] = None,
    access: String = "protected")

final class Registry(spark: SparkSession, wh: Warehouse) {
  private var models = Vector.empty[Model]
  private val materialized = scala.collection.mutable.Map.empty[String, DataFrame]
  private var runStartHooks = Vector.empty[Hook.Hook]
  private var runEndHooks = Vector.empty[Hook.Hook]

  def register(m: Model): this.type = {
    require(!versions.contains(m.name),
      s"'${m.name}' is a versioned model base — use registerVersion")
    require(Seq("private", "protected", "public").contains(m.access),
      s"model '${m.name}': access '${m.access}' not in private/protected/public")
    require(m.access != "private" || m.group.isDefined,
      s"model '${m.name}': private access requires a group")
    models :+= m; this
  }

  /** dbt model groups + access (dbt-core 1.5 governance): a PRIVATE model
    * may only be referenced by models in its own group; protected (the
    * default) is package-visible — one package here, so unrestricted —
    * and public is unrestricted by definition. Checked over the whole DAG
    * at run start so violations name both sides before anything builds.
    */
  private def validateAccess(): Unit = {
    val byName = models.map(m => m.name -> m).toMap
    val violations = for {
      m <- models
      depName <- m.deps.map(resolveName)
      p <- byName.get(depName)
      if p.access == "private" && m.group != p.group
    } yield s"'${m.name}' (group ${m.group.getOrElse("<none>")}) references " +
      s"private '${p.name}' of group ${p.group.get}"
    require(violations.isEmpty,
      s"model access violations:\n  ${violations.mkString("\n  ")}")
  }

  // ---- dbt metrics / semantic layer (MetricFlow's core query path) ----

  /** A declared metric over a registered model (dbt `metrics:` /
    * MetricFlow semantic model, reduced to the query-path essentials): an
    * aggregation (`count` | `sum` over `valueExpr`) of the model's rows,
    * sliceable by declared dimensions and a time column. The DECLARATION
    * is the governance point — consumers ask for (metric, grain, dims)
    * and the engine renders the rollup, so every dashboard aggregates the
    * same way.
    */
  final case class Metric(
      name: String,
      model: String,
      agg: String,
      valueExpr: Option[String],
      timeCol: String,
      dims: Seq[String],
      description: Option[String] = None)

  /** A ratio metric (MetricFlow `type: ratio`): numerator / denominator
    * metrics joined on (period, dims), rendered in exact integer
    * per-mille (`num * 1000 div den`) so values hash-compare.
    */
  final case class RatioMetric(name: String, numerator: String,
      denominator: String)

  /** A derived metric (MetricFlow `type: derived`): a SQL expression over
    * other SIMPLE metrics evaluated after they are rendered at the shared
    * (period, dims) grain — `profit = revenue - cost`. `exprSql` refers to
    * the input metrics BY NAME as columns; inputs must share model and
    * time column so their period spines coincide, and are inner-joined on
    * (period, dims) — a period where any input is absent has no defined
    * derived value, same as MetricFlow's join-to-time-spine default.
    * Integer expressions keep the exact-arithmetic discipline (the ratio
    * metric's per-mille convention covers division).
    */
  final case class DerivedMetric(name: String, exprSql: String,
      inputs: Seq[String])

  private var metricsVec = Vector.empty[Metric]
  private var ratioMetricsVec = Vector.empty[RatioMetric]
  private var derivedMetricsVec = Vector.empty[DerivedMetric]

  def registerMetric(m: Metric): this.type = {
    require(Seq("count", "sum").contains(m.agg),
      s"metric '${m.name}': agg '${m.agg}' not in count/sum")
    require(m.agg == "count" || m.valueExpr.isDefined,
      s"metric '${m.name}': sum needs a valueExpr")
    require(!metricsVec.exists(_.name == m.name) &&
      !ratioMetricsVec.exists(_.name == m.name),
      s"metric '${m.name}' already registered")
    metricsVec :+= m
    this
  }

  def registerRatioMetric(r: RatioMetric): this.type = {
    Seq(r.numerator, r.denominator).foreach(n =>
      require(metricsVec.exists(_.name == n), s"ratio '${r.name}': unknown metric '$n'"))
    require(!metricsVec.exists(_.name == r.name) &&
      !ratioMetricsVec.exists(_.name == r.name),
      s"metric '${r.name}' already registered")
    val Seq(n, d) = Seq(r.numerator, r.denominator)
      .map(x => metricsVec.find(_.name == x).get)
    require(n.model == d.model && n.timeCol == d.timeCol,
      s"ratio '${r.name}': numerator and denominator must share model/time")
    ratioMetricsVec :+= r
    this
  }

  def registerDerivedMetric(dm: DerivedMetric): this.type = {
    require(dm.inputs.nonEmpty, s"derived '${dm.name}': no inputs")
    dm.inputs.foreach(n => require(metricsVec.exists(_.name == n),
      s"derived '${dm.name}': unknown or non-simple input metric '$n'"))
    require(!metricsVec.exists(_.name == dm.name) &&
      !ratioMetricsVec.exists(_.name == dm.name) &&
      !derivedMetricsVec.exists(_.name == dm.name),
      s"metric '${dm.name}' already registered")
    val ins = dm.inputs.map(n => metricsVec.find(_.name == n).get)
    require(ins.map(m => (m.model, m.timeCol)).distinct.size == 1,
      s"derived '${dm.name}': inputs must share model/time")
    derivedMetricsVec :+= dm
    this
  }

  private val metricGrains = Seq("day", "week", "month", "quarter", "year")

  /** Render one metric at a grain over a dimension subset (the MetricFlow
    * `query --metrics m --group-by period, dims`): the model relation
    * resolves like any dependency (this registry's run, else the
    * warehouse), the time column truncates to the grain, and the declared
    * aggregation rolls up — one partial-agg shuffle keyed on
    * (period, dims). Requested dims must be DECLARED on the metric: an
    * undeclared slice is a governance error, not a silent group-by.
    */
  def queryMetric(name: String, grain: String,
      dims: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col, count => fcount, date_trunc, expr, lit, sum => fsum}
    require(metricGrains.contains(grain),
      s"grain '$grain' not in ${metricGrains.mkString("/")}")
    ratioMetricsVec.find(_.name == name) match {
      case Some(r) =>
        val num = queryMetric(r.numerator, grain, dims)
          .withColumnRenamed("value", "__num")
        val den = queryMetric(r.denominator, grain, dims)
          .withColumnRenamed("value", "__den")
        num.join(den, Seq("period") ++ dims)
          .withColumn("value",
            org.apache.spark.sql.functions.when(col("__den") =!= 0,
              org.apache.spark.sql.functions.call_function("div",
                col("__num") * lit(1000L), col("__den"))))
          .drop("__num", "__den")
      case None if derivedMetricsVec.exists(_.name == name) =>
        val dm = derivedMetricsVec.find(_.name == name).get
        // render each input at the shared grain, name its value after the
        // metric, and inner-join the spines on (period, dims); the derived
        // expression then sees inputs as columns
        val rendered = dm.inputs.map(n =>
          queryMetric(n, grain, dims).withColumnRenamed("value", n))
        rendered.reduce((a, b) => a.join(b, Seq("period") ++ dims))
          .withColumn("value", expr(dm.exprSql))
          .drop(dm.inputs: _*)
      case None =>
        val m = metricsVec.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"unknown metric: '$name'"))
        val undeclared = dims.filterNot(m.dims.contains)
        require(undeclared.isEmpty,
          s"metric '$name' does not declare dimension(s): ${undeclared.mkString(", ")}")
        val rel = materialized.getOrElse(resolveName(m.model), {
          if (wh.exists(resolveName(m.model))) wh.read(resolveName(m.model))
          else throw new IllegalStateException(
            s"metric '$name': model '${m.model}' is not materialized — run it first")
        })
        val aggCol = m.agg match {
          case "count" => fcount(lit(1)).cast("long").as("value")
          case "sum"   => fsum(expr(m.valueExpr.get).cast("long")).as("value")
        }
        rel.groupBy(
          (date_trunc(grain, col(m.timeCol)).as("period") +: dims.map(col)): _*)
          .agg(aggCol)
    }
  }

  /** Cumulative rendering of a metric (MetricFlow `type: cumulative`,
    * all-time window): the [[queryMetric]] rollup with a running sum over
    * periods per dimension slice. The window partitions on the dims and
    * holds one row per PERIOD — calendar-bounded, so even the dim-less
    * single partition is a few thousand rows at any data scale.
    */
  def queryMetricCumulative(name: String, grain: String,
      dims: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val base = queryMetric(name, grain, dims)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(dims.map(col): _*).orderBy(col("period").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    base.withColumn("cumulative_value", fsum(col("value")).over(w))
  }

  /** Metric catalog (the docs surface; flat scalars). */
  def metrics(): DataFrame = {
    import spark.implicits._
    (metricsVec.map(m => (m.name, "simple", m.agg, m.model,
      m.dims.sorted.mkString(","), m.description)) ++
      ratioMetricsVec.map(r => (r.name, "ratio",
        s"${r.numerator}/${r.denominator}",
        metricsVec.find(_.name == r.numerator).get.model, "", None)) ++
      derivedMetricsVec.map(dm => (dm.name, "derived", dm.exprSql,
        metricsVec.find(_.name == dm.inputs.head).get.model,
        dm.inputs.sorted.mkString(","), None)))
      .toDF("metric_name", "metric_type", "calculation", "model", "dims",
        "description")
  }

  // ---- dbt exposures (downstream-consumer metadata nodes) ----

  /** A dbt exposure: a DECLARED downstream consumer of warehouse relations
    * (dashboard, notebook, ML job, application). Not runnable — its value
    * is (a) documentation (`exposures()`), and (b) selection:
    * `+exposure:name` runs everything the consumer depends on, the
    * "rebuild what my dashboard needs" invocation.
    */
  final case class Exposure(
      name: String,
      exposureType: String,
      owner: String,
      dependsOn: Seq[String],
      url: Option[String] = None,
      description: Option[String] = None)

  private var exposuresVec = Vector.empty[Exposure]

  def registerExposure(e: Exposure): this.type = {
    val kinds = Seq("dashboard", "notebook", "analysis", "ml", "application")
    require(kinds.contains(e.exposureType),
      s"exposure type '${e.exposureType}' not in ${kinds.mkString("/")}")
    require(!exposuresVec.exists(_.name == e.name),
      s"exposure '${e.name}' already registered")
    require(e.dependsOn.nonEmpty, s"exposure '${e.name}' depends on nothing")
    exposuresVec :+= e
    this
  }

  /** Exposure metadata as a relation (the docs/catalog surface for
    * downstream consumers; flat scalars for the harness compare).
    */
  def exposures(): DataFrame = {
    import spark.implicits._
    exposuresVec.map(e => (e.name, e.exposureType, e.owner,
      e.dependsOn.map(resolveName).sorted.mkString(","),
      e.url, e.description))
      .toDF("exposure_name", "exposure_type", "owner", "depends_on",
        "url", "description")
  }

  // ---- dbt model versions (dbt-core 1.5 `versions:` / latest_version) ----

  private var versions = Map.empty[String, scala.collection.immutable.SortedSet[Int]]
  private var latestPin = Map.empty[String, Int]

  /** Canonical relation name of one version (dbt materializes `m_v2`). */
  def versionName(base: String, version: Int): String = s"${base}__v$version"

  /** Register one VERSION of a model under its base name (dbt `versions:`):
    * the model materializes as `base__vN` — every version stays its own
    * queryable relation — while a dependency on the bare `base` resolves to
    * the LATEST version (highest registered, unless [[setLatestVersion]]
    * pins an older one, dbt's `latest_version:` field for staged
    * migrations). A dependency on `versionName(base, n)` pins that version
    * explicitly (dbt `ref('m', v=n)`).
    */
  def registerVersion(base: String, version: Int, m: Model): this.type = {
    require(version >= 1, s"version must be >= 1: $version")
    require(!models.exists(_.name == base),
      s"'$base' is already registered as an unversioned model")
    val vs = versions.getOrElse(base, scala.collection.immutable.SortedSet.empty[Int])
    require(!vs.contains(version), s"'$base' version $version already registered")
    models :+= m.copy(name = versionName(base, version))
    versions += base -> (vs + version)
    this
  }

  /** Pin which version a bare-base dependency resolves to (dbt
    * `latest_version:` — defaults to the highest registered version).
    */
  def setLatestVersion(base: String, version: Int): this.type = {
    require(versions.get(base).exists(_.contains(version)),
      s"no registered version $version of '$base'")
    latestPin += base -> version
    this
  }

  /** Resolve a dependency/selector name: a versioned base aliases to its
    * latest (or pinned) version's canonical name; anything else is itself.
    */
  private def resolveName(n: String): String =
    versions.get(n)
      .map(vs => versionName(n, latestPin.getOrElse(n, vs.max)))
      .getOrElse(n)

  /** Project-level hooks (dbt on-run-start / on-run-end): run once per
    * [[run]] invocation, before the first / after the last model, in
    * registration order. A failing model aborts the run WITHOUT the end
    * hooks, like dbt aborting the invocation.
    */
  def onRunStart(h: Hook.Hook): this.type = { runStartHooks :+= h; this }
  def onRunEnd(h: Hook.Hook): this.type = { runEndHooks :+= h; this }

  // ---- declared-join cost model (ctx.join) ----------------------------
  private var joinFeedbackTable: Option[String] = None

  /** Declares the warehouse table executed planned-joins append their
    * LEO feedback rows to (`fb_family, fb_est, fb_est_adjusted,
    * fb_actual` — the I1 append sink, so recording survives restarts
    * and merges across runs by construction). `ctx.join(...,
    * recordFeedback = true)` without this declaration raises.
    */
  def enableJoinFeedback(table: String = "join_feedback"): this.type = {
    joinFeedbackTable = Some(table); this
  }

  /** The ctx.join resolver: profile both sides' keys from their
    * `__stats_*` sidecars (register-grain reads — ≤1 profile row per
    * side), decide the plan exactly as [[TableStats.adviseEquiJoin]]
    * does, log the decision, and stage the LEO observation when asked.
    * Returns None (no hint) when either profile is missing.
    */
  private def resolvePlannedJoin(model: String, a: String, b: String,
      keys: Seq[String], budget: Long, record: Boolean,
      pending: scala.collection.mutable.ArrayBuffer[(String, Long, Long)],
      routeSkewPpm: Option[Long])
      : Option[PlannedJoinChoice] = {
    import org.apache.spark.sql.functions.{col, sum}
    val keyName = keys.mkString("|")
    if (record && joinFeedbackTable.isEmpty)
      throw new IllegalArgumentException(
        s"ctx.join in '$model' asked to record feedback but the registry " +
          "declares no feedback table — call enableJoinFeedback() first")
    if (record && pending.nonEmpty)
      throw new IllegalArgumentException(
        s"model '$model' already records feedback for '${pending.head._1}' " +
          "— the actual-cardinality contract (model output == the join) " +
          "admits ONE recording join per model")
    // certified skew routing FIRST: a hot key owning a big slice of the
    // fact is cheapest never shuffled at all, whatever the dim's size
    // says about broadcasting (opt-in and loud when the evidence is
    // missing — the recordFeedback contract style)
    val routed: Option[PlannedHotCold] = routeSkewPpm.flatMap { ppm =>
      require(ppm >= 1L && ppm <= 1000000L, s"routeSkewPpm: $ppm")
      val d = resolveName(a)
      if (!wh.exists(s"${d}__stats_mg") || !wh.exists(s"${d}__stats_counts"))
        throw new IllegalArgumentException(
          s"ctx.join in '$model' asked for skew routing but '$a' has no " +
            "__stats_mg/__stats_counts sidecars — declare mgCols on its " +
            "analyze hook")
      val n = wh.read(s"${d}__stats_counts")
        .filter(col("ts_col") === keyName).collect() match {
          case Array(r) => r.getAs[Long]("n_notnull")
          case _ => throw new IllegalArgumentException(
            s"'$a' counts sidecar has no row for '$keyName'")
        }
      val thresh = (BigInt(n) * BigInt(ppm) / BigInt(1000000L)).toLong
      val hot = wh.read(s"${d}__stats_mg")
        .filter(col("ts_col") === keyName &&
          col("mg_count") >= math.max(thresh, 1L))
        .select(col("mg_value")).collect().map(_.getString(0)).toSeq.sorted
      if (hot.isEmpty) {
        ackMetaOp(s"stats_join $model: $a*$b on $keyName — no key " +
          s"certifies $ppm ppm of n=$n; ordinary decision applies")
        None
      } else {
        ackMetaOp(s"stats_join $model: $a*$b on $keyName n=$n " +
          s"plan=hot_cold(n_hot=${hot.size},threshold_ppm=$ppm)")
        Some(PlannedHotCold(hot))
      }
    }
    if (routed.isDefined) return routed
    (storedProfile(a, keyName), storedProfile(b, keyName)) match {
      case (Some((na, ndvA)), Some((nb, ndvB))) =>
        val plan = if (math.min(na, nb) > budget) "shuffle"
          else if (na <= nb) "broadcast_left" else "broadcast_right"
        // the System-R estimate (exact integer form) + the stored-ratio
        // LEO correction when the family has recorded observations
        val est = (BigInt(na) * BigInt(nb) /
          BigInt(math.max(math.max(ndvA, ndvB), 1L))).toLong
        val family = s"$a|$b|$keyName"
        val adj = joinFeedbackTable
          .filter(t => wh.exists(t))
          .map { t =>
            val r = wh.read(t).filter(col("fb_family") === family)
              .agg(sum(col("fb_est")).cast("long").as("e"),
                sum(col("fb_actual")).cast("long").as("a")).collect()(0)
            if (r.isNullAt(0) || r.getLong(0) <= 0L) est
            else (BigInt(est) * BigInt(r.getLong(1)) / BigInt(r.getLong(0))).toLong
          }.getOrElse(est)
        if (record) pending += ((family, est, adj))
        ackMetaOp(s"stats_join $model: $a*$b on $keyName n_a=$na ndv_a=$ndvA " +
          s"n_b=$nb ndv_b=$ndvB budget=$budget est=$est est_adjusted=$adj " +
          s"plan=$plan")
        Some(PlannedHint(plan))
      case _ =>
        if (record) throw new IllegalArgumentException(
          s"ctx.join in '$model' asked to record feedback but '$a'/'$b' " +
            s"lack stored profiles for '$keyName' — declare " +
            "TableStats.analyzeHook on both dependencies")
        ackMetaOp(s"stats_join $model: $a*$b on $keyName — no stored " +
          "profile on one side; no hint planted (Catalyst keeps its own " +
          "judgement)")
        None
    }
  }

  /** S9 metadata-operation acknowledgment log (grants / persist_docs /
    * clone): one line per accepted op, for observability and specs — the
    * ops themselves persist as sidecar metadata only and never touch data.
    */
  @volatile private var metaOps = Vector.empty[String]
  def metadataOps: Seq[String] = metaOps
  private def ackMetaOp(line: String): Unit = synchronized { metaOps :+= line }

  /** dbt clone (dbt-adapters/macros/materializations/models/clone/clone.sql):
    * point-in-time copy of a materialized relation under a new name. Real,
    * and zero-copy at the file level ([[Warehouse.cloneTable]] hard-links
    * data files) — the closest filesystem analogue to Snowflake's
    * metadata-only CLONE.
    */
  def cloneRelation(src: String, dst: String): this.type = {
    wh.cloneTable(src, dst)
    ackMetaOp(s"clone: $src -> $dst (hard-linked data files)")
    materialized(dst) = wh.read(dst)
    this
  }

  /** Seed a source relation directly (dbt source / seed node). */
  private var sourceNames = Set.empty[String]
  private var sourceSignatures = Map.empty[String, String]
  private var reuseEnabled = false

  /** Build avoidance (dbt slim-CI state:modified applied to the RUN
    * itself, bazel-style): a TableMat / VersionedTableMat model whose
    * definition (fingerprint) and every input signature are unchanged
    * since its stored relation was built SKIPS the build entirely and
    * serves the stored relation — at 100 TB the cheapest query plan is
    * the one that never runs. The recorded signature is
    * md5(modelFingerprint + each dep's signature): warehouse-backed deps
    * sign from their file listing ([[Warehouse.relationSignature]] — an
    * out-of-band append to a dep therefore invalidates reuse), ViewMat
    * deps sign recursively through THEIR inputs (a view has no storage,
    * its identity is its definition applied to its inputs), and external
    * sources need a caller-declared signature ([[source]] 3-arg) or the
    * model is disqualified (logged, never silently stale). Recording
    * happens AFTER tests pass — a failing build never becomes reusable —
    * and reuse skips hooks/tests/grants wholesale: they ran when the
    * signature was recorded and their sidecars are exactly as durable as
    * the relation. `fullRefresh` overrides, like dbt's --full-refresh.
    * Incremental/snapshot/aggregate mats are out of scope by design:
    * their runs are DEFINED by consuming a new batch.
    */
  def enableReuse(): this.type = { reuseEnabled = true; this }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Signature of a resolved dependency name, or None when unsignable.
    * Precedence mirrors dep RESOLUTION: a registered model's own storage
    * first (what ctx.ref reads), then the ViewMat recursion, then the
    * declared source signature.
    */
  private def depSignature(resolved: String,
      seen: Set[String] = Set.empty): Option[String] = {
    if (seen(resolved)) return None // defensive: topo order forbids cycles
    models.find(m => m.name == resolved) match {
      case Some(vm) if vm.mat == ViewMat =>
        val ds = vm.deps.map(d => depSignature(resolveName(d), seen + resolved))
        if (ds.forall(_.isDefined))
          Some(md5Hex(modelFingerprint(vm) + ds.flatten.mkString("|")))
        else None
      case _ =>
        wh.relationSignature(resolved)
          .orElse(sourceSignatures.get(resolved))
    }
  }

  /** The reuse signature a stored relation of `m` must match, or None
    * when `m` is ineligible (mat out of scope, or an unsignable dep —
    * the skip reason is logged so a "why did this rebuild" question has
    * an answer in the op log).
    */
  private def buildSignature(m: Model): Option[String] = {
    val eligible = m.mat.isInstanceOf[TableMat] ||
      m.mat.isInstanceOf[VersionedTableMat]
    if (!reuseEnabled || !eligible) None
    else {
      val sigs = m.deps.map(d => d -> depSignature(resolveName(d)))
      val missing = sigs.collect { case (d, None) => d }
      if (missing.nonEmpty) {
        ackMetaOp(s"reuse_skip ${m.name}: unsignable input(s) " +
          s"${missing.mkString(", ")} (declare a source signature to enable)")
        None
      } else Some(md5Hex(modelFingerprint(m) +
        sigs.map(_._2.get).mkString("|")))
    }
  }

  def source(name: String, df: DataFrame): this.type = {
    materialized(name) = df; sourceNames += name; this
  }

  /** Source with a caller-declared content signature — the external-input
    * half of the build-reuse contract ([[enableReuse]]): the warehouse can
    * sign its own relations from their file listings, but an arbitrary
    * source DataFrame has no storage the engine owns, so the CALLER
    * declares what identifies the batch (a landing-partition id, an
    * extract watermark, a manifest checksum — dbt's source-freshness
    * position: the loader, not the transformer, knows when data moved).
    * A source registered WITHOUT a signature is honestly unsignable and
    * disqualifies every model downstream of it from reuse.
    */
  def source(name: String, df: DataFrame, signature: String): this.type = {
    sourceSignatures += (name -> signature)
    source(name, df)
  }

  /** DAG hygiene report (the dbt-project-evaluator core checks, engine-
    * native): one row per finding — documentation gaps, untested eager
    * materializations, sources nothing reads, staging-layer bypasses
    * (a non-staging model reading a source directly when a staging model
    * for that source exists), and hub models whose fan-out suggests an
    * intermediate rollup. Driver-side metadata only: cost is O(DAG), data
    * scale irrelevant. `severity` is advisory — lint informs, the run
    * never blocks on it (contracts/access are the blocking layer).
    */
  def lint(fanoutThreshold: Int = 5): DataFrame = {
    import spark.implicits._
    val childrenOf: Map[String, Seq[String]] = models
      .flatMap(m => m.deps.map(d => resolveName(d) -> m.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val stagingFor: Set[String] = models
      .filter(m => m.name.startsWith("stg"))
      .flatMap(_.deps.map(resolveName)).toSet
    val findings = Seq.newBuilder[(String, String, String, String)]
    models.foreach { m =>
      if (m.docs.isEmpty)
        findings += (("missing_description", m.name, "warn",
          "model has no persisted description"))
      val eager = m.mat match {
        case ViewMat | _: FunctionMat | _: DynamicTableMat => false
        case _ => true
      }
      if (eager && m.tests.isEmpty)
        findings += (("missing_tests", m.name, "warn",
          "eager materialization with no declared tests"))
      if (!m.name.startsWith("stg")) {
        val bypassed = m.deps.map(resolveName)
          .filter(d => sourceNames.contains(d) && stagingFor.contains(d))
        bypassed.foreach(d => findings += (("staging_bypass", m.name, "warn",
          s"reads source '$d' directly although a staging model covers it")))
      }
      val fanout = childrenOf.getOrElse(m.name, Nil).size
      if (fanout > fanoutThreshold)
        findings += (("model_fanout", m.name, "info",
          s"$fanout direct children — consider an intermediate rollup"))
    }
    sourceNames.toSeq.sorted.foreach { s =>
      if (!models.exists(_.deps.map(resolveName).contains(s)) &&
          !exposuresVec.exists(_.dependsOn.map(resolveName).contains(s)))
        findings += (("unused_source", s, "warn",
          "no model or exposure references this source"))
    }
    findings.result().toDF("check", "node", "severity", "detail")
  }

  // ---- dbt state manifest (slim CI: --select state:modified --defer) ----

  private var stateManifest: Option[Map[String, String]] = None

  /** A model's manifest checksum — dbt hashes the model's SQL text; a
    * Scala `build` closure has no stable text on the JVM, so the checksum
    * covers every DECLARED property (deps, materialization config, tags,
    * docs, grants, test names) plus the caller-bumped `fingerprint` field,
    * which stands in for the body (bump it when the logic changes, the
    * way dbt's checksum changes when the SQL does). Documented honest
    * limitation: an un-bumped logic-only change is invisible to
    * state:modified — exactly as an unsaved SQL edit is invisible to dbt.
    */
  private def modelFingerprint(m: Model): String = {
    val basis = Seq(m.name, m.deps.mkString(","), m.mat.toString,
      m.tags.mkString(","), m.docs.getOrElse(""),
      m.grants.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.mkString("|")}" }
        .mkString(";"),
      m.tests.map(_.name).mkString(","), m.fingerprint.getOrElse(""),
      // a contract edit is a declared-property change: state:modified
      // must see it, exactly as dbt's checksum covers the contract block
      m.contract.map(_.map { case (n, t) => s"$n:$t" }.mkString(",")).getOrElse(""),
      m.group.getOrElse(""), m.access)
      .mkString("")
    java.security.MessageDigest.getInstance("MD5")
      .digest(basis.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Persist the current DAG's checksums (dbt `manifest.json` analogue,
    * reduced to the name -> checksum map state selection needs).
    */
  def writeManifest(path: String): this.type = {
    val lines = models.map(m => s"${m.name}\t${modelFingerprint(m)}")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("\n").getBytes("UTF-8"))
    this
  }

  /** Load a reference manifest for `state:` selectors (dbt --state DIR). */
  def withState(path: String): this.type = {
    val m = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
      .split("\n").filter(_.nonEmpty).map { l =>
        val Array(n, h) = l.split("\t", 2)
        n -> h
      }.toMap
    stateManifest = Some(m)
    this
  }

  def relation(name: String): DataFrame = materialized(resolveName(name))

  /** dbt docs-generate catalog (catalog.json semantics): one row per
    * (node, column) over every relation this registry has materialized or
    * sourced, joining the DAG's declared metadata (deps, materialization,
    * tags, test count, persisted doc) to the relation's ACTUAL schema —
    * dbt's catalog likewise reflects what is in the warehouse, so call it
    * after [[run]]. Unrun models (registered but never materialized) are
    * absent, exactly as dbt omits relations the warehouse doesn't have.
    *
    * Driver-side metadata only — the row count is O(models x columns),
    * a DAG-sized constant independent of data scale, so building it as a
    * local Seq is the right plan at any corpus size. All columns are flat
    * scalars (deps/tags comma-joined) for the harness compare.
    */
  def catalog(): DataFrame = {
    import spark.implicits._
    def matLabel(m: Materialization): String = m match {
      case ViewMat              => "view"
      case _: TableMat          => "table"
      case _: VersionedTableMat => "versioned_table"
      case _: IncrementalMat    => "incremental"
      case _: SnapshotMat       => "snapshot"
      case _: AggregateMat      => "aggregate"
      case _: DynamicTableMat   => "dynamic_table"
      case _: FunctionMat       => "function"
    }
    val byName = models.map(m => m.name -> m).toMap
    val rows = materialized.toSeq.sortBy(_._1).flatMap { case (name, df) =>
      val m = byName.get(name)
      val mat   = m.map(x => matLabel(x.mat)).getOrElse("source")
      val deps  = m.map(_.deps.sorted.mkString(",")).getOrElse("")
      val tags  = m.map(_.tags.sorted.mkString(",")).getOrElse("")
      val nTst  = m.map(_.tests.size.toLong).getOrElse(0L)
      val doc   = m.flatMap(_.docs)
      df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        (name, mat, deps, tags, nTst, doc, i.toLong, f.name,
          f.dataType.simpleString)
      }
    }
    rows.toDF("node_name", "materialization", "deps", "tags", "n_tests",
      "doc", "column_index", "column_name", "column_type")
  }

  /** Column-level lineage of one registered model against its DIRECT
    * dependencies ([[Lineage.columnLineage]] with sources resolved from
    * this registry). The DEFINITION is introspected — the build runs
    * lazily in full-refresh shape against the dep relations and only its
    * ANALYZED plan is read, never executed (a materialized table's
    * stored relation is a bare parquet scan that remembers nothing; dbt
    * docs generation likewise reads the parse tree, not the warehouse).
    * Builds are pure plan constructors by Registry contract, so the lazy
    * invocation is free. Deps resolve like a run: this registry's
    * relations, else the warehouse (cross-process defer), else raise.
    */
  def columnLineage(modelName: String): DataFrame = {
    val m = models.find(_.name == resolveName(modelName)).getOrElse(
      throw new IllegalArgumentException(s"unknown model: $modelName"))
    val deps = m.deps.map(decl => { val d = resolveName(decl)
      decl -> materialized.getOrElse(d, {
      if (wh.exists(d)) wh.read(d)
      else if (wh.versionsOf(d).nonEmpty) wh.readVersioned(d)
      else throw new IllegalStateException(
        s"dependency '$d' of '$modelName' is not materialized and has no " +
          "warehouse relation — run its ancestors first")
    })}).toMap
    val ctx = ModelContext(spark, deps, isIncremental = false,
      existingTarget = None,
      prunedResolver = (decl, preds) =>
        if (!deps.contains(decl)) None else routePruned(decl, preds))
    Lineage.columnLineage(spark, m.build(ctx), deps)
  }

  /** dbt 1.8 unit test (`unit_tests:` blocks): run one model's BUILD in
    * isolation against MOCKED inputs and diff the result against an
    * expectation — logic testing without warehouse state, the layer the
    * C5/C6 fixture-compare primitives compose into at the runner level.
    *
    *  - `given` replaces the model's `ref()` resolution entirely; every
    *    direct dependency must be mocked (dbt errors on an unprovided
    *    input too — silently reading production state would defeat the
    *    isolation).
    *  - `expect` may cover a SUBSET of the model's output columns (dbt
    *    fixture semantics); actual rows are projected onto the expected
    *    columns before comparing.
    *  - `isIncremental`/`existingThis` mock the incremental context (dbt's
    *    `overrides: is_incremental` + `this` fixture) so both branches of
    *    an incremental model are testable.
    *
    * Returns the side-tagged symmetric multiset difference (rows only the
    * model produced tagged `actual`, rows only the expectation holds
    * tagged `expected`) — empty means PASS, and failures carry the
    * offending rows, like dbt's unit-test diff output. The materialization
    * config is deliberately NOT exercised: dbt unit tests compile the
    * model's SQL against fixture CTEs and never run the materialization
    * DML either.
    */
  def unitTest(modelName: String, givenInputs: Map[String, DataFrame],
      expect: DataFrame, isIncremental: Boolean = false,
      existingThis: Option[DataFrame] = None): DataFrame = {
    val m = models.find(_.name == resolveName(modelName)).getOrElse(
      throw new IllegalArgumentException(s"unknown model: $modelName"))
    val missing = m.deps.filterNot(givenInputs.contains)
    require(missing.isEmpty,
      s"unit test for '$modelName' must mock every direct dependency; " +
        s"missing: ${missing.mkString(", ")}")
    val actual = m.build(ModelContext(spark, givenInputs, isIncremental, existingThis))
    val unknown = expect.columns.filterNot(actual.columns.contains)
    require(unknown.isEmpty,
      s"expectation names columns '$modelName' does not produce: " +
        unknown.mkString(", "))
    val projected = actual.select(expect.columns.map(
      org.apache.spark.sql.functions.col).toSeq: _*)
    projected.exceptAll(expect)
      .withColumn("side", org.apache.spark.sql.functions.lit("actual"))
      .unionByName(expect.exceptAll(projected)
        .withColumn("side", org.apache.spark.sql.functions.lit("expected")))
  }

  /** Kahn topo-sort (dbt DAG semantics; cycles are an authoring error). */
  private def topoSorted: Seq[Model] = {
    val byName = models.map(m => m.name -> m).toMap
    val visited = scala.collection.mutable.LinkedHashSet.empty[String]
    val visiting = scala.collection.mutable.Set.empty[String]
    def visit(n: String): Unit = byName.get(n).foreach { m =>
      if (!visited.contains(n)) {
        require(visiting.add(n), s"model cycle at $n")
        m.deps.map(resolveName).foreach(visit)
        visiting -= n
        visited += n
      }
    }
    models.foreach(m => visit(m.name))
    visited.toSeq.map(byName)
  }

  /** Parse a microbatch bound eagerly — an unparseable bound must FAIL here,
    * never flow into the plan as a NULL literal (a NULL bound would filter
    * out every row and silently replace the target with an empty table).
    * Timestamp precision is preserved (hourly windows stay hourly).
    */
  private def parseBound(s: String): java.sql.Timestamp = {
    val t = scala.util.Try(java.time.LocalDateTime.parse(s))
      .orElse(scala.util.Try(java.time.LocalDate.parse(s).atStartOfDay()))
      .getOrElse(throw new IllegalArgumentException(
        s"unparseable microbatch bound '$s' (want ISO date or date-time)"))
    java.sql.Timestamp.valueOf(t)
  }

  /** Event-time period helpers for the partitioned microbatch layout. The
    * period string doubles as the partition directory value, so it must be
    * filesystem-safe and identically derivable from Scala (window
    * enumeration) and Spark (`date_format` on the event column).
    */
  private object Period {
    def pattern(grain: String): String = grain match {
      case "hour"  => "yyyy-MM-dd'T'HH"
      case "day"   => "yyyy-MM-dd"
      case "month" => "yyyy-MM"
      case "year"  => "yyyy"
      case other   => throw new IllegalArgumentException(s"microbatch grain: $other")
    }
    def step(t: java.time.LocalDateTime, grain: String): java.time.LocalDateTime = grain match {
      case "hour" => t.plusHours(1); case "day" => t.plusDays(1)
      case "month" => t.plusMonths(1); case "year" => t.plusYears(1)
    }
    def aligned(t: java.time.LocalDateTime, grain: String): Boolean = {
      val midnight = t.toLocalTime == java.time.LocalTime.MIDNIGHT
      grain match {
        case "hour"  => t.getMinute == 0 && t.getSecond == 0 && t.getNano == 0
        case "day"   => midnight
        case "month" => t.getDayOfMonth == 1 && midnight
        case "year"  => t.getDayOfYear == 1 && midnight
      }
    }
    /** The period partition values covered by the grain-aligned [start, end). */
    def values(start: java.time.LocalDateTime, end: java.time.LocalDateTime,
        grain: String): Seq[String] = {
      require(aligned(start, grain) && aligned(end, grain),
        s"microbatch window [$start, $end) must be whole $grain periods " +
          "(dbt batches are period-aligned; a partial period cannot be " +
          "replaced by partition swap)")
      val fmt = java.time.format.DateTimeFormatter.ofPattern(pattern(grain))
      Iterator.iterate(start)(step(_, grain)).takeWhile(_.isBefore(end))
        .map(fmt.format).toSeq
    }
  }

  /** Generic-test verdicts from the most recent `run` (dbt build's test
    * report). Error-severity tests also abort the run.
    */
  @volatile private var lastTestResults = Vector.empty[graft.operators.GenericTests.TestResult]
  def testResults: Seq[graft.operators.GenericTests.TestResult] = lastTestResults

  /** Run the DAG (`dbt run`). fullRefresh forces incremental targets to
    * rebuild from scratch (incremental.sql:40-46). `microbatchWindows`
    * overrides Microbatch bounds per model name for this run — the per-batch
    * window a scheduler advances between runs. `select` restricts the run to
    * the named models PLUS their transitive ancestors (dbt `--select +m`);
    * `exclude` drops nodes from that set. A dependency that this run skips
    * resolves to its relation from a PREVIOUS run of this Registry when one
    * exists (the dbt --defer analogue) and fails fast at dependency lookup
    * otherwise.
    */
  def run(fullRefresh: Boolean = false,
      microbatchWindows: Map[String, (String, String)] = Map.empty,
      threads: Int = 1,
      select: Seq[String] = Nil,
      exclude: Seq[String] = Nil,
      selector: String = ""): Map[String, DataFrame] =
    runImpl(fullRefresh, microbatchWindows, threads, select, exclude,
      selector, fireRunHooks = true)

  /** dbt node-selection syntax (`dbt run --select` / `--exclude`;
    * dbt-core node selector docs — the slim-CI surface): space-separated
    * tokens UNION, comma-joined atoms within a token INTERSECT, and each
    * atom is `model`, `+model` (with ancestors), `model+` (with
    * descendants), `+model+`, `@model` (descendants plus ALL their
    * ancestors — the "rebuild everything this touches" operator), or
    * `tag:name`. Unlike the legacy `select` parameter, a bare `model`
    * selects ONLY that node — dbt semantics — and its skipped upstream
    * deps must already be materialized (a previous run of this Registry),
    * or [[materialize]] raises the defer-contract error.
    */
  def resolveSelector(spec: String): Set[String] = {
    val byName = models.map(m => m.name -> m).toMap
    val children: Map[String, Seq[String]] = models
      .flatMap(m => m.deps.map(d => resolveName(d) -> m.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def walk(n: String, next: String => Seq[String],
        acc: scala.collection.mutable.Set[String]): Unit =
      next(n).foreach(d => if (acc.add(d)) walk(d, next, acc))
    def closure(n: String, next: String => Seq[String]): Set[String] = {
      val acc = scala.collection.mutable.Set.empty[String]
      walk(n, next, acc)
      acc.toSet
    }
    def anc(n: String): Set[String] =
      closure(n, x =>
        // exposure pseudo-nodes contribute their declared deps to the
        // ancestor walk (`+exposure:x` = "what my dashboard needs")
        if (x.startsWith("exposure:"))
          exposuresVec.find(_.name == x.stripPrefix("exposure:"))
            .map(_.dependsOn.map(resolveName)).getOrElse(Nil)
        else byName.get(x).map(_.deps.map(resolveName)).getOrElse(Nil))
    def desc(n: String): Set[String] =
      closure(n, x => children.getOrElse(x, Nil))
    // graph-operator expansion shared by every atom family: dbt's
    // +set / set+ / @set semantics over an arbitrary base set
    def expand(base: Set[String], pre: Boolean, post: Boolean,
        at: Boolean): Set[String] = {
      var s = base
      if (pre) s ++= base.flatMap(anc)
      if (post || at) s ++= base.flatMap(desc)
      if (at) s = s ++ s.flatMap(anc)
      s
    }
    def atom(a: String): Set[String] = {
      val at = a.startsWith("@")
      val pre = a.startsWith("+")
      val post = a.endsWith("+")
      val core = a.stripPrefix("@").stripPrefix("+").stripSuffix("+")
      val base: Set[String] =
        if (core.startsWith("tag:")) {
          val t = core.stripPrefix("tag:")
          models.filter(_.tags.contains(t)).map(_.name).toSet
        } else if (core.startsWith("state:")) {
          // dbt slim-CI state selection against the loaded manifest
          val ref = stateManifest.getOrElse(throw new IllegalStateException(
            s"selector '$a' needs a state manifest — call withState(path) first"))
          core.stripPrefix("state:") match {
            case "modified" => models
              .filter(m => ref.get(m.name).exists(_ != modelFingerprint(m)))
              .map(_.name).toSet
            case "new" => models.filterNot(m => ref.contains(m.name))
              .map(_.name).toSet
            case other => throw new IllegalArgumentException(
              s"unsupported state method: 'state:$other' (modified | new)")
          }
        } else if (core.startsWith("exposure:")) {
          // the exposure node itself is not runnable (filtered by the
          // model intersection below); +exposure:x selects its ancestors
          val en = core.stripPrefix("exposure:")
          require(exposuresVec.exists(_.name == en), s"unknown exposure: '$en'")
          Set(core)
        } else {
          // a versioned base name selects its latest (pinned) version
          val c = resolveName(core)
          require(byName.contains(c), s"unknown model in selector: '$core'")
          Set(c)
        }
      expand(base, pre, post, at)
    }
    spec.trim.split("\\s+").filter(_.nonEmpty)
      .map(tok => tok.split(",").filter(_.nonEmpty).map(atom)
        .reduceOption(_ intersect _).getOrElse(Set.empty[String]))
      .foldLeft(Set.empty[String])(_ union _)
      // ancestor walks reach SOURCE relations (registered data, not
      // models); they're implicitly available, not runnable nodes
      .intersect(byName.keySet)
  }

  /** [[run]] minus the run-level hooks — the internal passes of
    * [[runMicrobatches]] (ancestors, one pass per window, downstream) are
    * ONE dbt invocation, so on-run-start/end must fire once around the
    * whole series, not once per window.
    */
  private def runImpl(fullRefresh: Boolean,
      microbatchWindows: Map[String, (String, String)],
      threads: Int,
      select: Seq[String],
      exclude: Seq[String],
      selector: String,
      fireRunHooks: Boolean): Map[String, DataFrame] = {
    // dbt-style DAG parallelism (SURVEY §3: independent nodes on separate
    // threads): models grouped into topological levels; within a level all
    // deps are already materialized, so models run concurrently. Spark's
    // scheduler handles concurrent jobs from one driver.
    lastTestResults = Vector.empty
    validateAccess()
    require(selector.isEmpty || select.isEmpty,
      "pass either selector (dbt syntax) or select (legacy), not both")
    val selected: Option[Set[String]] =
      if (selector.nonEmpty) {
        // dbt semantics: the spec IS the run set (no implicit ancestors);
        // exclude tokens use the same selector syntax
        val excluded =
          if (exclude.isEmpty) Set.empty[String]
          else resolveSelector(exclude.mkString(" "))
        Some(resolveSelector(selector) -- excluded)
      } else if (select.isEmpty) None
      else {
        val byName = models.map(m => m.name -> m).toMap
        select.foreach(s => require(byName.contains(resolveName(s)),
          s"unknown model in select: $s"))
        val seen = scala.collection.mutable.Set.empty[String]
        def ancestors(n: String): Unit = if (seen.add(n))
          byName.get(n).foreach(_.deps.map(resolveName).foreach(ancestors))
        select.map(resolveName).foreach(ancestors)
        Some(seen.toSet)
      }
    val ordered = topoSorted.filter(m =>
      selected.forall(_.contains(m.name)) &&
        (selector.nonEmpty || !exclude.contains(m.name)))
    val level = scala.collection.mutable.Map.empty[String, Int]
    ordered.foreach { m =>
      level(m.name) =
        (m.deps.map(resolveName).flatMap(level.get).maxOption.getOrElse(-1)) + 1
    }
    val byLevel = ordered.groupBy(m => level(m.name)).toSeq.sortBy(_._1)
    if (fireRunHooks) runStartHooks.foreach(_(HookContext(spark, wh, None, None)))
    // dbt-retry bookkeeping: which of THIS run's selected models succeeded
    // before an abort — the failed model plus everything not yet recorded
    // is the retry set (a parallel sibling whose Future completed after
    // the failure is conservatively re-run; materializations are
    // idempotent swaps, so that costs time, never correctness)
    val succeededNow = scala.collection.mutable.Set.empty[String]
    // first failure wins under parallelism; the ORIGINAL exception always
    // propagates unwrapped (callers assert on its type and message)
    val failedModel = new java.util.concurrent.atomic.AtomicReference[String](null)
    def mat1(m: Model): (String, DataFrame) =
      try m.name -> materialize(m, fullRefresh, microbatchWindows)
      catch {
        case e: Throwable =>
          failedModel.compareAndSet(null, m.name)
          throw e
      }
    try {
      byLevel.foreach { case (_, ms) =>
        val results: Seq[(String, DataFrame)] =
          if (threads <= 1 || ms.size == 1) ms.map(mat1)
          else {
            import scala.concurrent.{Await, ExecutionContext, Future}
            import scala.concurrent.duration.Duration
            val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(threads, ms.size))
            implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
            try Await.result(
              Future.sequence(ms.map(m => Future(mat1(m)))),
              Duration.Inf)
            finally pool.shutdown()
          }
        results.foreach { case (n, df) =>
          materialized(n) = df; succeededNow += n
        }
      }
      lastRunFailed = Set.empty
      lastRunSkipped = Set.empty
    } catch {
      case e: Throwable =>
        val f = Option(failedModel.get()).toSet
        lastRunFailed = f
        lastRunSkipped = ordered.map(_.name).toSet -- succeededNow -- f
        throw e
    }
    if (fireRunHooks) runEndHooks.foreach(_(HookContext(spark, wh, None, None)))
    materialized.toMap
  }

  private var lastRunFailed = Set.empty[String]
  private var lastRunSkipped = Set.empty[String]

  /** What `dbt retry` would rerun after the last aborted invocation:
    * the failed model and every selected model the abort skipped.
    */
  def retryPending: Set[String] = lastRunFailed ++ lastRunSkipped

  /** `dbt retry`: resume the last ABORTED run from its point of failure —
    * rerun the failed model and the skipped downstream, deferring every
    * already-succeeded dependency to its materialized relation (bare-name
    * selector semantics, so nothing upstream rebuilds). The original
    * failure exception propagated unwrapped; this call re-runs from the
    * recorded pending set. No-op guard: a clean last run has nothing to
    * retry and raises rather than silently rebuilding the world. On
    * success the pending set clears; a retry that fails again updates it
    * (retry is itself retryable, like dbt's).
    */
  def retryLast(threads: Int = 1): Map[String, DataFrame] = {
    val todo = retryPending
    require(todo.nonEmpty, "nothing to retry: the last run did not abort")
    runImpl(fullRefresh = false, Map.empty, threads, Nil, Nil,
      selector = todo.toSeq.sorted.mkString(" "), fireRunHooks = true)
  }

  /** The dbt microbatch batch-series loop (dbt-core batch builder +
    * dbt-snowflake merge.sql:73-101): split [start, end) into consecutive
    * whole-`grain` windows (both bounds must be period-aligned — validated
    * BEFORE any batch commits) and run the microbatch model (+ its
    * ancestors) once per window. Models DOWNSTREAM of it then run ONCE
    * against the final state, like dbt building each model a single time
    * with the batch loop inside the microbatch materialization. Returns the
    * relations after the downstream pass.
    *
    * Scale note: each batch's DML touches only its event-time slice; with
    * the target partitioned on event time the rewrite is partition-pruned —
    * the loop itself is driver-side orchestration, identical to dbt's.
    */
  def runMicrobatches(modelName: String, start: String, end: String,
      grain: String, threads: Int = 1): Map[String, DataFrame] = {
    // an unknown name would silently run the whole DAG once per window with
    // the model's DEFAULT bounds — fail loudly instead
    require(models.exists(m => m.name == modelName &&
        m.mat.isInstanceOf[IncrementalMat] &&
        m.mat.asInstanceOf[IncrementalMat].strategy.isInstanceOf[Incremental.Microbatch]),
      s"runMicrobatches: no microbatch model named '$modelName'")
    def parse(s: String): java.time.LocalDateTime =
      scala.util.Try(java.time.LocalDateTime.parse(s))
        .orElse(scala.util.Try(java.time.LocalDate.parse(s).atStartOfDay()))
        .getOrElse(throw new IllegalArgumentException(
          s"unparseable microbatch bound '$s' (want ISO date or date-time)"))
    val step: java.time.LocalDateTime => java.time.LocalDateTime = grain match {
      case "hour"  => _.plusHours(1)
      case "day"   => _.plusDays(1)
      case "month" => _.plusMonths(1)
      case "year"  => _.plusYears(1)
      case other   => throw new IllegalArgumentException(s"microbatch grain: $other")
    }
    var cur = parse(start)
    val fin = parse(end)
    require(cur.isBefore(fin), s"empty microbatch range [$start, $end)")
    // validate alignment BEFORE any batch commits: a trailing partial
    // period would only fail at materialization, mid-series, with earlier
    // windows already written (dbt batches are whole periods)
    require(Period.aligned(cur, grain) && Period.aligned(fin, grain),
      s"microbatch series [$start, $end) must cover whole $grain periods")
    // dbt's batch loop runs UPSTREAM models exactly once — only the
    // microbatch materialization itself iterates the windows. Ancestors
    // materialize in one pass up front; every later pass excludes them
    // (their relations resolve from this run's materialized state), so a
    // side-effecting incremental ancestor (e.g. Append strategy) gets its
    // DML applied once, not once per window.
    val byName = models.map(m => m.name -> m).toMap
    val ancestorSet = scala.collection.mutable.Set.empty[String]
    def collectAnc(n: String): Unit =
      byName.get(n).foreach(_.deps.foreach(d =>
        if (ancestorSet.add(d)) collectAnc(d)))
    collectAnc(modelName)
    val ancestors = ancestorSet.filter(byName.contains).toSeq
    // the whole series is ONE invocation: run-level hooks fire here once,
    // and every internal pass below suppresses them
    runStartHooks.foreach(_(HookContext(spark, wh, None, None)))
    if (ancestors.nonEmpty)
      runImpl(fullRefresh = false, Map.empty, threads, ancestors, Nil,
        selector = "", fireRunHooks = false)
    var out = Map.empty[String, DataFrame]
    while (cur.isBefore(fin)) {
      val next = step(cur)
      // only the microbatch model re-runs per window — neither siblings
      // nor (already-materialized) ancestors are touched by the loop
      out = runImpl(fullRefresh = false,
        Map(modelName -> (cur.toString, next.toString)),
        threads, Seq(modelName), ancestors, selector = "", fireRunHooks = false)
      cur = next
    }
    // downstream models see the final state exactly once (the microbatch
    // model and its ancestors are excluded — their relations defer to the
    // states materialized above)
    val downstream = {
      val dependents = scala.collection.mutable.Set(modelName)
      topoSorted.foreach { m =>
        if (m.deps.exists(dependents.contains)) dependents += m.name
      }
      dependents.diff(Set(modelName)).toSeq
    }
    if (downstream.nonEmpty)
      out = runImpl(fullRefresh = false, Map.empty, threads, downstream,
        modelName +: ancestors, selector = "", fireRunHooks = false)
    runEndHooks.foreach(_(HookContext(spark, wh, None, None)))
    out
  }

  /** Route one declared-predicate ref through the warehouse sidecars
    * (shared by [[materialize]] and [[columnLineage]]): the period
    * window picks the directory-pruned reader, ranges the stats-manifest
    * box, a lone IN the bloom+stats point lookup; predicates the routed
    * reader does not itself apply (extra INs beside a box/window) land
    * as row filters on top, so the result is always exactly
    * `read(dep).filter(AND preds)`. None when the dep has no warehouse
    * relation — the ModelContext fallback filters the dep frame instead.
    */
  private def routePruned(decl: String,
      preds: Seq[RefPred]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    val d = resolveName(decl)
    if (!wh.exists(d)) None
    else {
      val periods = preds.collect { case p: RefPeriod => p }
      val ranges = preds.collect { case r: RefRange => r }
      val ins = preds.collect { case i: RefIn => i }
      val prefixes = preds.collect { case p: RefPrefix => p }
      require(periods.size <= 1,
        s"ref('$decl'): at most one RefPeriod window, got ${periods.size}")
      val rangeTuples = ranges.map(r => (r.column, r.lo, r.hi))
      // routing precedence: a period window always picks the directory-
      // pruned reader; failing that, integral ranges pick the stats box,
      // a lone IN the bloom+stats point lookup, a lone prefix the
      // string-bounds prefix reader. Whatever the routed reader does not
      // itself apply lands as row filters below.
      val (base, insToApply, prefToApply) =
        (periods.headOption, ranges, ins, prefixes) match {
          case (Some(p), Nil, is, ps) =>
            (wh.readPeriodRange(d, p.from, p.to), is, ps)
          case (Some(p), _, is, ps) =>
            (wh.readPeriodRangePruned(d, p.from, p.to, rangeTuples), is, ps)
          case (None, Nil, i +: rest, ps) =>
            (wh.readPrunedIn(d, i.column, i.values), rest, ps)
          case (None, Nil, Nil, p +: rest) =>
            (wh.readPrunedPrefix(d, p.column, p.prefix), Nil, rest)
          case (None, _, is, ps) =>
            (wh.readPrunedBox(d, rangeTuples), is, ps)
        }
      val withIns = insToApply.foldLeft(base)((df, i) =>
        df.filter(col(i.column).isin(i.values: _*)))
      Some(prefToApply.foldLeft(withIns)((df, p) =>
        df.filter(col(p.column).startsWith(p.prefix))))
    }
  }

  /** One side's `(n_notnull, ndv)` for `keyName` from a dependency's
    * `__stats_*` sidecars — None when either sidecar or the profile row
    * is missing. Register-grain: ≤1 row collected.
    */
  private def storedProfile(dep: String, keyName: String): Option[(Long, Long)] = {
    val d = resolveName(dep)
    if (!wh.exists(s"${d}__stats_counts") || !wh.exists(s"${d}__stats_regs"))
      None
    else TableStats.readProfile(wh, d, keyName, "x").collect() match {
      case Array(r) => Some((r.getAs[Long]("n_x"), r.getAs[Long]("ndv_x")))
      case _ => None
    }
  }

  /** The ctx.starJoin resolver: per dim, the System-R single-join
    * estimate against the fact from stored profiles; profiled dims
    * ascend by estimate (ties: name asc) AHEAD of unprofiled ones
    * (declaration order — no evidence, no reorder); each dim broadcasts
    * iff its stored count fits the budget. Order + estimates logged.
    */
  private def resolveStarOrder(model: String, fact: String,
      dims: Seq[(String, Seq[String])], budget: Long)
      : Seq[(String, Seq[String], String)] = {
    val scored = dims.zipWithIndex.map { case ((dname, keys), i) =>
      val keyName = keys.mkString("|")
      val est = for {
        (nf, ndvF) <- storedProfile(fact, keyName)
        (nd, ndvD) <- storedProfile(dname, keyName)
      } yield {
        val e = (BigInt(nf) * BigInt(nd) /
          BigInt(math.max(math.max(ndvF, ndvD), 1L))).toLong
        (e, nd)
      }
      val plan = est match {
        case Some((_, nd)) if nd <= budget => "broadcast_dim"
        case _ => "shuffle"
      }
      (dname, keys, plan, est.map(_._1), i)
    }
    val ordered = scored.sortBy { case (dname, _, _, est, i) =>
      // profiled dims first by ascending estimate then name; unprofiled
      // keep declaration order after them
      (est.isEmpty, est.getOrElse(Long.MaxValue), if (est.isEmpty) i.toLong
        else 0L, dname)
    }
    ackMetaOp(s"stats_star_join $model: fact=$fact order=" +
      ordered.map { case (dn, ks, plan, est, _) =>
        s"$dn[${ks.mkString("|")}](est=${est.map(_.toString)
          .getOrElse("none")},plan=$plan)" }.mkString(" -> "))
    ordered.map { case (dn, ks, plan, _, _) => (dn, ks, plan) }
  }

  /** The ctx.aggRef resolver: read the dependency's rollup spec sidecar
    * (register-grain — one row per declared measure), pick the cheapest
    * subsuming rollup, serve the re-aggregation from its stored
    * partials. None (logged) when no spec exists or nothing subsumes —
    * aggRef then computes from the base. A spec row whose partial table
    * is missing falls through to base too (a half-written declaration
    * must degrade to the full scan, never a wrong answer — the manifest
    * contract).
    */
  private def resolveAggRef(model: String, dep: String, groupBy: Seq[String],
      wants: Seq[Rollup.Want], preds: Seq[RefPred]): Option[DataFrame] = {
    val d = resolveName(dep)
    if (!wh.exists(Rollup.specTable(d))) {
      ackMetaOp(s"agg_ref $model: dep=$d — no rollup spec, base relation")
      None
    } else {
      val spec = Rollup.readSpec(wh.read(Rollup.specTable(d)))
      Rollup.choose(spec, groupBy, wants, Rollup.predColumns(preds)) match {
        case Some((rname, dims)) if wh.exists(Rollup.rollupTable(d, rname)) =>
          ackMetaOp(s"agg_ref $model: dep=$d SERVED from rollup '$rname' " +
            s"dims=${dims.mkString("|")} groupBy=${groupBy.mkString("|")} " +
            s"wants=${wants.map(w => s"${w.op}(${w.col})").mkString(",")}")
          Some(Rollup.answer(wh.read(Rollup.rollupTable(d, rname)),
            groupBy, wants, Rollup.predFilters(preds)))
        case Some((rname, _)) =>
          ackMetaOp(s"agg_ref $model: dep=$d rollup '$rname' declared but " +
            "its partial table is missing — base relation")
          None
        case None =>
          ackMetaOp(s"agg_ref $model: dep=$d — no subsuming rollup, " +
            "base relation")
          None
      }
    }
  }

  /** [[ModelContext.lookupJoin]]'s decision: eliminate iff the verified-
    * constraint sidecars prove the join multiplicity-neutral for this
    * `how` AND both constraints are current against storage. Metadata
    * cost: sidecar reads + file listings, no data.
    */
  private def resolveLookupJoin(model: String, fact: String, dim: String,
      keys: Seq[String], how: String): Boolean = {
    val (f, d) = (resolveName(fact), resolveName(dim))
    val keyOk = Constraints.verifiedKey(wh, d, keys)
    val fkOk = how == "left" ||
      Constraints.verifiedFkTotal(wh, f, keys, d, keys)
    val ok = keyOk && fkOk
    val why =
      if (ok) "ELIMINATED (verified constraints current)"
      else if (!keyOk) s"kept (no current key constraint on $d)"
      else s"kept (no current fk_total $f -> $d)"
    ackMetaOp(s"lookup_join $model: $fact -> $dim on " +
      s"${keys.mkString(",")} [$how] $why")
    ok
  }

  /** [[ModelContext.distinctRef]]'s decision: any current verified key of
    * the dep inside `cols` proves the projection already distinct.
    */
  private def resolveDistinct(model: String, dep: String,
      cols: Seq[String]): Boolean = {
    val d = resolveName(dep)
    // try the full col set and every recorded key; verifiedKey normalizes
    // order, so checking the recorded lines directly keeps this one read
    val ok = wh.getMeta(d + "__constraints").toSeq
      .flatMap(_.split("\n", -1)).filter(_.startsWith("key\t"))
      .exists { ln =>
        val ks = ln.split("\t", -1)(1).split(",", -1).toSeq
        ks.forall(cols.contains) && Constraints.verifiedKey(wh, d, ks)
      }
    ackMetaOp(s"distinct_ref $model: dep=$d cols=${cols.mkString(",")} " +
      (if (ok) "ELIMINATED (verified key subset)" else "kept (no verified key)"))
    ok
  }

  private def materialize(m: Model, fullRefresh: Boolean,
      microbatchWindows: Map[String, (String, String)]): DataFrame = {
    // build avoidance ([[enableReuse]]): signatures are computed BEFORE
    // the build from the deps' current storage — topo order guarantees
    // that is exactly the state this build would read — and the same
    // value is recorded after tests pass, so "stored sig == current sig"
    // means "the stored relation is what this build would produce"
    val reuseSig = if (fullRefresh) None else buildSignature(m)
    reuseSig.foreach { sig =>
      val storedSig = wh.getMeta(m.name + "__buildsig")
      val targetStored = wh.exists(m.name) || wh.versionsOf(m.name).nonEmpty
      if (targetStored && storedSig.contains(sig)) {
        ackMetaOp(s"reuse ${m.name}: definition and all input signatures " +
          "unchanged — serving stored relation, build skipped")
        return (if (m.mat.isInstanceOf[VersionedTableMat])
          wh.readVersioned(m.name) else wh.read(m.name))
      }
    }
    // staged LEO observations from this model's ctx.join calls:
    // (family, est, est_adjusted) — the actual cardinality is appended
    // after the materialization DML commits (it IS the stored relation's
    // row count under the recordFeedback contract)
    val pendingFeedback =
      scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val result = {
      // a dep this run skipped (select/exclude) resolves to its relation
      // from a previous run of THIS registry, or — the dbt --defer --state
      // case, a fresh process doing slim CI — to the relation a previous
      // INVOCATION left in the warehouse. Cached into `materialized` so
      // every consumer in this run sees one snapshot (the I8 temp-relation
      // consistency contract). Failing both, explain the contract instead
      // of surfacing a bare key-not-found.
      // deps are KEYED on the declared name (ctx.ref uses what the model
      // wrote) but RESOLVE through the version alias
      val deps = m.deps.map(decl => { val d = resolveName(decl)
        decl -> materialized.getOrElse(d, {
        if (wh.exists(d)) {
          val df = wh.read(d)
          materialized(d) = df
          df
        } else if (wh.versionsOf(d).nonEmpty) {
          // defer to a versioned relation's CURRENT version
          val df = wh.readVersioned(d)
          materialized(d) = df
          df
        } else throw new IllegalStateException(
          s"dependency '$d' of model '${m.name}' is not materialized: it was " +
            "not selected in this run and no previous run produced a " +
            s"warehouse relation '$d' to defer to (register it, select it, " +
            "or run it first)")
      })}).toMap
      val targetExists = wh.exists(m.name)
      val isInc = (m.mat.isInstanceOf[IncrementalMat] ||
        m.mat.isInstanceOf[AggregateMat]) && targetExists && !fullRefresh
      val ctx = ModelContext(spark, deps, isInc,
        if (targetExists) Some(wh.read(m.name)) else None,
        // declared-predicate refs route through the sidecars only for
        // DECLARED dependencies (the deps-map membership check in ref
        // guards the DAG contract; resolution itself goes to the
        // warehouse so a defer-resolved dep prunes too)
        (decl, preds) =>
          if (!deps.contains(decl)) None else routePruned(decl, preds),
        (a, b, keys, budget, record, routeSkew) =>
          resolvePlannedJoin(m.name, a, b, keys, budget, record,
            pendingFeedback, routeSkew),
        (fact, dims, budget) => resolveStarOrder(m.name, fact, dims, budget),
        (dep, groupBy, wants, preds) =>
          if (!deps.contains(dep)) None
          else resolveAggRef(m.name, dep, groupBy, wants, preds),
        (fact, dim, keys, how) =>
          resolveLookupJoin(m.name, fact, dim, keys, how),
        (dep, cols) => resolveDistinct(m.name, dep, cols))
      // pre-hooks see the PRE-materialization state of `this`
      // (incremental.sql:74-76 runs them before the strategy DML)
      m.preHooks.foreach(_(HookContext(spark, wh, Some(m.name), ctx.existingTarget)))
      val df = m.build(ctx)
      // dbt model contract (`contract: enforced`, dbt-core 1.5 +
      // dbt-snowflake table/create.sql:96-100 assert_columns_equivalent):
      // the build's schema must EXACTLY match the declared (name, type)
      // set — order-insensitive, but a missing, unexpected, or retyped
      // column fails BEFORE any materialization DML commits. The point of
      // a contract is that downstream consumers can bind to the declared
      // shape, so enforcement precedes every write path uniformly.
      m.contract.foreach { declared =>
        val dupDecl = declared.groupBy(_._1).collect { case (n, c) if c.size > 1 => n }
        require(dupDecl.isEmpty,
          s"contract for '${m.name}' declares duplicate columns: ${dupDecl.mkString(", ")}")
        val actual = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
        val decl = declared.toMap
        val missing = declared.collect { case (n, _) if !actual.contains(n) => n }
        val unexpected = df.schema.fieldNames.filterNot(decl.contains)
        val retyped = declared.collect {
          case (n, t) if actual.get(n).exists(_ != t) => s"$n: declared $t, built ${actual(n)}"
        }
        if (missing.nonEmpty || unexpected.nonEmpty || retyped.nonEmpty)
          throw new IllegalStateException(
            s"model '${m.name}' violates its enforced contract — " +
              (if (missing.nonEmpty) s"missing: ${missing.mkString(", ")}; " else "") +
              (if (unexpected.nonEmpty) s"unexpected: ${unexpected.mkString(", ")}; " else "") +
              (if (retyped.nonEmpty) s"type mismatch: ${retyped.mkString("; ")}" else ""))
      }
      m.mat match {
        case ViewMat =>
          df.createOrReplaceTempView(m.name)
          df
        case TableMat(clusterBy) =>
          wh.writeSwap(m.name, df, clusterBy)
          wh.read(m.name)
        case VersionedTableMat(keep) =>
          val v = wh.writeVersioned(m.name, df, keep)
          ackMetaOp(s"versioned_write ${m.name}: v$v committed" +
            (if (keep > 0) s", keep=$keep (live: ${wh.versionsOf(m.name).mkString(",")})"
             else ""))
          wh.readVersioned(m.name)
        case AggregateMat(keys, combiners) =>
          if (!isInc) {
            // validate BEFORE the CTAS commits durable state a later
            // incremental run would reject (the aggStream lesson); the
            // incremental branch is validated inside mergeAggregates
            Incremental.validateAggSchema(df, keys, combiners,
              s"model '${m.name}' build")
            wh.writeSwap(m.name, df)
          } else wh.writeSwap(m.name,
            Incremental.mergeAggregates(wh.read(m.name), df, keys, combiners))
          wh.read(m.name)
        case IncrementalMat(strategy, keys, onSchema) =>
          if (!isInc) strategy match {
            case Incremental.Microbatch(eventCol, _, _, grain) =>
              // microbatch targets live PARTITIONED by event-time period from
              // the first run, so later runs replace whole partition dirs
              // instead of rewriting the target (NULL event times land in the
              // default partition and are never touched by a window).
              // Clustering by the period column before the write keeps file
              // count O(periods), not O(periods x tasks) — a full-history
              // CTAS over years of periods would otherwise spray thousands
              // of small files. (Slice appends skip this: a batch covers few
              // periods and benefits from parallel writers per dir.)
              import org.apache.spark.sql.functions.{col, date_format}
              val pc = wh.enginePrefix + "period"
              wh.writeSwap(m.name,
                df.withColumn(pc, date_format(col(eventCol), Period.pattern(grain)))
                  .repartition(col(pc)),
                partitionBy = Seq(pc))
            case _ => wh.writeSwap(m.name, df)
          }
          else {
            import org.apache.spark.sql.functions.{col, lit}
            val stored = wh.read(m.name)
            val target = Incremental.reconcileSchema(stored, df, onSchema)
            strategy match {
              case Incremental.Append =>
                // if reconcileSchema reshaped the target — ADDED columns OR
                // retyped them (SyncAllColumns int->long) — persist the
                // reshape first: appending mismatched-schema part-files
                // would make reads nondeterministic (parquet takes one
                // file's schema), and a name-only comparison would miss the
                // type-only drift entirely. The batch is materialized BEFORE
                // the swap: the model build may reference
                // ctx.existingTarget, whose file index dies in the swap
                // (stale-scan FileNotFound otherwise).
                def appendFrom(src: DataFrame): Unit = {
                  val schemaNow = wh.read(m.name).schema
                  // cast every appended column to the STORED type (the
                  // warehouse-coercion dbt relies on): an int batch landing
                  // in a long column must not write int-typed files
                  val aligned = schemaNow.fields.map(f =>
                    if (src.columns.contains(f.name)) col(f.name).cast(f.dataType)
                    else lit(null).cast(f.dataType).as(f.name))
                  wh.append(m.name, src.select(aligned.toSeq: _*))
                }
                if (target.schema != stored.schema)
                  Pin.loan(df.pinEager()) { snap =>
                    wh.writeSwap(m.name, target)
                    appendFrom(snap)
                  }
                else appendFrom(df)
              case multi =>
                def build(src: DataFrame): Unit = multi match {
                  case Incremental.Merge =>
                    wh.writeSwap(m.name, Incremental.merge(target, src, keys))
                  case Incremental.MergePredicated(preds) =>
                    wh.writeSwap(m.name,
                      Incremental.mergePredicated(target, src, keys, preds))
                  case Incremental.DeleteInsert =>
                    wh.writeSwap(m.name, Incremental.deleteInsert(target, src, keys))
                  case Incremental.InsertOverwrite =>
                    wh.writeSwap(m.name, Incremental.insertOverwrite(src))
                  case Incremental.Microbatch(eventCol, defStart, defEnd, grain) =>
                    // physical form of Incremental.microbatch: the slice's
                    // period partitions are dropped and the in-window batch
                    // rows land in their place — O(slice) I/O, the rest of
                    // the target is neither read nor rewritten
                    import org.apache.spark.sql.functions.{coalesce, date_format}
                    val (s0, e0) = microbatchWindows.getOrElse(m.name, (defStart, defEnd))
                    val (startLdt, endLdt) =
                      (parseBound(s0).toLocalDateTime, parseBound(e0).toLocalDateTime)
                    val periods = Period.values(startLdt, endLdt, grain)
                    val pc = wh.enginePrefix + "period"
                    val periodOf = date_format(col(eventCol), Period.pattern(grain))
                    // bound literals go through a SESSION-TZ string cast, the
                    // same clock date_format uses — a java.sql.Timestamp
                    // literal would be interpreted in the JVM default zone,
                    // and on a non-UTC host the filter and the period
                    // enumeration would disagree about which period a row
                    // near midnight belongs to
                    val tsFmt = java.time.format.DateTimeFormatter
                      .ofPattern("yyyy-MM-dd HH:mm:ss")
                    def tsLit(t: java.time.LocalDateTime) =
                      lit(tsFmt.format(t)).cast("timestamp")
                    val c = col(eventCol)
                    val inWindow =
                      coalesce(c >= tsLit(startLdt) && c < tsLit(endLdt), lit(false))
                    val slice = src.filter(inWindow)
                      .select(target.columns.map(col).toSeq: _*)
                      .withColumn(pc, periodOf)
                    if (target.schema != stored.schema) {
                      // partitioned slices must share ONE schema: when
                      // on_schema_change reshaped the target (added column /
                      // retyped), persist the reshape BEFORE the slice lands
                      // — appending drifted-schema files would make reads
                      // take a random footer's schema and silently drop the
                      // new column. The slice is materialized first: the
                      // model may reference the existing target, whose file
                      // index dies in the swap.
                      Pin.loan(slice.pinEager()) { snap =>
                        wh.writeSwap(m.name,
                          target.withColumn(pc, periodOf).repartition(col(pc)),
                          partitionBy = Seq(pc))
                        wh.overwritePeriods(m.name, snap, pc, periods)
                      }
                    } else
                      wh.overwritePeriods(m.name, slice, pc, periods)
                  case _ => ()
                }
                // merge/delete+insert scan the source more than once: pin
                // it for identical inputs (temp-relation rule I8,
                // incremental.sql:2-65); single-scan strategies skip the pin
                val multiScan = multi == Incremental.Merge ||
                  multi == Incremental.DeleteInsert ||
                  multi.isInstanceOf[Incremental.MergePredicated]
                if (multiScan) Pin.loan(df.pinLazy())(build) else build(df)
            }
          }
          wh.read(m.name)
        case DynamicTableMat(cfg, onChange) =>
          // scenario dispatch per dynamic_table_get_build_sql
          // (dynamic_table.sql:27-66): create / replace / alter / no-op
          val stored = if (targetExists) wh.getMeta(m.name).map(DynamicTableConfig.deserialize)
                       else None
          if (!targetExists || fullRefresh || stored.isEmpty) {
            // create, full refresh, or existing relation isn't a dynamic
            // table (no stored config) -> (re)build with the model config
            wh.writeSwap(m.name, df, clusterBy = cfg.clusterBy)
            wh.putMeta(m.name, cfg.serialize)
          } else if (stored.contains(cfg)) {
            // 'No configuration changes were identified ... Continuing.' —
            // a config-clean run is a NO-OP: data freshness belongs to the
            // refresher (the streaming analogue), not the materialization
            ()
          } else onChange match {
            case ApplyConfig =>
              // the ALTER analogue: re-lay the table under the new config
              wh.writeSwap(m.name, df, clusterBy = cfg.clusterBy)
              wh.putMeta(m.name, cfg.serialize)
            case ContinueConfig =>
              () // keep the existing table + config (reference warns)
            case FailConfig =>
              throw new IllegalStateException(
                s"Configuration changes were identified and on_configuration_change " +
                  s"was set to fail for '${m.name}' (stored: " +
                  s"${stored.map(_.serialize.replace('\n', ' ')).getOrElse("<none>")}; " +
                  s"model: ${cfg.serialize.replace('\n', ' ')})")
          }
          wh.read(m.name)
        case FunctionMat(args, returns, body) =>
          // session-scoped like a temp view; re-running REPLACES (the
          // scalar.sql CREATE OR REPLACE semantics)
          spark.sql(s"CREATE OR REPLACE TEMPORARY FUNCTION ${m.name}($args) " +
            s"RETURNS $returns RETURN $body")
          ackMetaOp(s"create_function ${m.name}($args) RETURNS $returns")
          import spark.implicits._
          Seq((m.name, args, returns)).toDF("function", "args", "returns")
        case SnapshotMat(keys, strategy, hard, ts, metaNames, validToCur) =>
          if (metaNames.nonEmpty) Snapshot.validateMetaNames(metaNames, df.columns.toSeq)
          import org.apache.spark.sql.functions.{col => fcol, lit => flit, when => fwhen}
          def toStorage(h: org.apache.spark.sql.DataFrame) = {
            val sentineled = validToCur.fold(h)(sv =>
              h.withColumn("dbt_valid_to",
                fwhen(fcol("dbt_valid_to").isNull, flit(sv))
                  .otherwise(fcol("dbt_valid_to"))))
            Snapshot.renameMeta(sentineled, metaNames)
          }
          def fromStorage(h: org.apache.spark.sql.DataFrame) = {
            val canonical = Snapshot.restoreMeta(h, metaNames)
            validToCur.fold(canonical)(sv =>
              canonical.withColumn("dbt_valid_to",
                fwhen(fcol("dbt_valid_to") === flit(sv),
                  flit(null).cast("timestamp"))
                  .otherwise(fcol("dbt_valid_to"))))
          }
          val next =
            if (!targetExists) Snapshot.firstRun(df, keys, strategy, hard)
            else Snapshot.apply(fromStorage(wh.read(m.name)),
              df, keys, strategy, hard, ts)
          wh.writeSwap(m.name, toStorage(next))
          wh.read(m.name)
      }
    }
    // LEO feedback lands AFTER the DML commits and BEFORE post-hooks
    // (so an analyze-style hook can already read it): the actual
    // cardinality is the materialized relation's count — for stored
    // relations a parquet metadata read, for views one honest count of
    // the join itself. Appended through the I1 sink: recording merges
    // across runs and survives restarts by construction.
    if (pendingFeedback.nonEmpty) {
      val actual = result.count()
      import spark.implicits._
      wh.append(joinFeedbackTable.get,
        pendingFeedback.toSeq.map { case (fam, est, adj) =>
          (fam, est, adj, actual)
        }.toDF("fb_family", "fb_est", "fb_est_adjusted", "fb_actual"))
      pendingFeedback.foreach { case (fam, est, adj) =>
        ackMetaOp(s"join_feedback ${m.name}: $fam est=$est " +
          s"est_adjusted=$adj actual=$actual") }
    }
    // post-hooks see the materialized relation (incremental.sql:172-182:
    // main DML, then hooks, then grants/docs, then commit)
    m.postHooks.foreach(_(HookContext(spark, wh, Some(m.name), Some(result))))
    // S9 metadata ops: persisted as sidecars + acknowledged in the op log;
    // no ACL store / comment DDL exists here, so data is never touched
    if (m.grants.nonEmpty) {
      wh.putMeta(m.name + "__grants",
        m.grants.toSeq.sortBy(_._1)
          .map { case (p, to) => s"$p=${to.mkString(",")}" }.mkString("\n"))
      ackMetaOp(s"apply_grants ${m.name}: " +
        m.grants.toSeq.sortBy(_._1)
          .map { case (p, to) => s"$p -> ${to.mkString(",")}" }.mkString("; ") +
        " (sidecar only: no ACL store)")
    }
    m.docs.foreach { text =>
      wh.putMeta(m.name + "__docs", text)
      ackMetaOp(s"persist_docs ${m.name}: ${text.length} chars (sidecar)")
    }
    // declared tests run against the MATERIALIZED relation, before any
    // downstream model builds (dbt build semantics); Error severity aborts
    import graft.operators.GenericTests
    m.tests.foreach { t =>
      val failing =
        if (t.storeFailures) {
          val rel = s"test_failures__${m.name}__${t.name}"
          wh.writeSwap(rel, t.failing(result))
          wh.read(rel)
        } else t.failing(result)
      val res = GenericTests.evaluate(s"${m.name}.${t.name}", failing,
        t.failCalc, t.warnIf, t.errorIf)
      synchronized { lastTestResults :+= res }
      if (res.severity == GenericTests.Error)
        throw new IllegalStateException(
          s"test ${res.name}: ${res.failures} failures (error threshold)")
    }
    // record the reuse signature LAST: a crash anywhere above (including a
    // failing declared test) leaves no signature, so the next run rebuilds
    // — the conservative direction at every failpoint
    reuseSig.foreach(sig => wh.putMeta(m.name + "__buildsig", sig))
    result
  }
}
