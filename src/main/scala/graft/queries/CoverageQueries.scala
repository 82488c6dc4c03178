package graft.queries

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{Incremental, Snapshot}
import graft.operators.GenericTests
import graft.pipeline.Similarity
import graft.sources.Sources
import graft.sources.Sources.table
import graft.engine.Pin.PinOps

/** Oracle coverage for the operators that previously had only spec-level
  * tests: I1 append, I4 insert_overwrite, J9 null-safe merge keys, P7 where
  * test wrapper, A3 fail_calc thresholds, SN4 hard_deletes=new_record
  * tombstones, S1 CSV seed load, and the IVF ANN scale path beside LSH.
  */
object CoverageQueries extends QuerySet {

  /** Pinned seed schema (S1: infer once, then freeze — seeds/helpers.sql:7-27). */
  private val procCodesSchema = StructType(Seq(
    StructField("code", StringType),
    StructField("description", StringType),
    StructField("durability_rank", IntegerType),
    StructField("effective_date", DateType)))

  private val SeedPath = "/root/repo/seeds/proc_codes.csv"

  /** Typed claim projection shared by the incremental-strategy queries. */
  private def claimCols = Seq(
    col("o_orderkey").cast("long").as("claim_id"),
    col("o_custkey").cast("long").as("member_id"),
    col("o_orderdate").cast("date").as("service_date"),
    col("o_orderstatus").as("status"))

  private val claimBaseSql =
    """SELECT CAST(o_orderkey AS BIGINT) AS claim_id, CAST(o_custkey AS BIGINT) AS member_id,
      |       CAST(o_orderdate AS DATE) AS service_date, o_orderstatus AS status
      |FROM orders""".stripMargin

  val all: Seq[QueryDef] = Seq(

    QueryDef("q312_compaction", (s, d) => {
      // small-file compaction through the swap protocol: four append
      // slices land ~4x the files a single write would, compact() rewrites
      // to the row-count target, and the READ-BACK is hash-gated against
      // the plain union — proving the rewrite is logically invisible (the
      // file-count mechanics are pinned in RegistrySpec)
      val wh = Scratch.warehouse("q312", d, s, Seq("claims_compact"))
      val years = Seq("1995", "1996", "1997", "1998")
      years.foreach { y =>
        val slice = table(s, d, "orders")
          .filter(year(col("o_orderdate")) === y.toInt).select(claimCols: _*)
        if (!wh.exists("claims_compact")) wh.writeSwap("claims_compact", slice)
        else wh.append("claims_compact", slice)
      }
      wh.compact("claims_compact", rowsPerFile = 100000L)
      wh.read("claims_compact")
    }, Some(
      s"""WITH base AS ($claimBaseSql)
         |SELECT * FROM base
         |WHERE service_date >= DATE '1995-01-01' AND service_date < DATE '1999-01-01'""".stripMargin)),

    QueryDef("q41_incremental_append", (s, d) => {
      val tgt = table(s, d, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("date")).select(claimCols: _*)
      val src = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1998-01-01").cast("date")).select(claimCols: _*)
      Incremental.append(tgt, src)
    }, Some(
      s"""WITH base AS ($claimBaseSql)
         |SELECT * FROM base WHERE service_date < DATE '1998-01-01'
         |UNION ALL
         |SELECT * FROM base WHERE service_date >= DATE '1998-01-01'""".stripMargin)),

    QueryDef("q42_insert_overwrite", (s, d) => {
      val src = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1998-01-01").cast("date")).select(claimCols: _*)
      Incremental.insertOverwrite(src,
        overwriteColumns = Some(Seq("claim_id", "member_id", "service_date")))
    }, Some(
      s"""WITH base AS ($claimBaseSql)
         |SELECT claim_id, member_id, service_date FROM base
         |WHERE service_date >= DATE '1998-01-01'""".stripMargin)),

    QueryDef("q43_merge_nullsafe_keys", (s, d) => {
      // J9: bucket 8 becomes a NULL key on BOTH sides — with nullSafeKeys the
      // NULL-key row is UPDATED (src wins) instead of duplicated
      def agg(df: DataFrame) = df
        .groupBy(nullif(col("o_custkey") % 1000, lit(8)).cast("long").as("bucket_key"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      // I8 identical-inputs rule: merge reads each side from three branches
      // (updated/untouched/inserted) — materialize the tiny aggregates once
      val tgt = agg(table(s, d, "orders").filter(col("o_orderdate") < lit("1999-01-01").cast("date")))
        .pinLazy()
      val src = agg(table(s, d, "orders").filter(col("o_orderdate") >= lit("1999-01-01").cast("date") &&
        (col("o_custkey") % 1000) % 2 === 0))
        .pinLazy()
      Incremental.merge(tgt, src, Seq("bucket_key"), nullSafeKeys = true)
    }, Some(
      """WITH tgt AS (
        |  SELECT CAST(nullif(o_custkey % 1000, 8) AS BIGINT) AS bucket_key,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders WHERE o_orderdate < DATE '1999-01-01' GROUP BY 1),
        |src AS (
        |  SELECT CAST(nullif(o_custkey % 1000, 8) AS BIGINT) AS bucket_key,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders WHERE o_orderdate >= DATE '1999-01-01' AND (o_custkey % 1000) % 2 = 0
        |  GROUP BY 1)
        |SELECT t.* FROM tgt t
        |WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.bucket_key IS NOT DISTINCT FROM t.bucket_key)
        |UNION ALL
        |SELECT s.* FROM src s
        |WHERE EXISTS (SELECT 1 FROM tgt t WHERE t.bucket_key IS NOT DISTINCT FROM s.bucket_key)
        |UNION ALL
        |SELECT s.* FROM src s
        |WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.bucket_key IS NOT DISTINCT FROM s.bucket_key)""".stripMargin)),

    QueryDef("q44_test_where_wrapper", (s, d) =>
      // P7 (where_subquery.sql:6-16): the uniqueness test over only the
      // filtered slice of the relation
      GenericTests.unique(table(s, d, "orders"), "o_custkey",
        where = Some("o_orderdate >= date'1998-01-01'")),
      Some("""SELECT o_custkey AS unique_field, CAST(count(*) AS BIGINT) AS n_records
             |FROM orders WHERE o_orderdate >= DATE '1998-01-01' AND o_custkey IS NOT NULL
             |GROUP BY 1 HAVING count(*) > 1""".stripMargin)),

    QueryDef("q45_fail_calc_threshold", (s, d) => {
      // A3 (tests/helpers.sql:7-16): fail_calc scalar over the failing rows
      // + warn_if/error_if thresholds, as a 1-row relation
      val failing = GenericTests.acceptedValues(
        table(s, d, "orders"), "o_orderstatus", Seq("F", "O"))
      failing.agg(coalesce(sum(col("n_records")), lit(0L)).as("fail_calc"))
        .select(col("fail_calc"),
          when(col("fail_calc") > 1000, lit("error"))
            .when(col("fail_calc") > 0, lit("warn"))
            .otherwise(lit("pass")).as("severity"))
    }, Some(
      """WITH failing AS (
        |  SELECT o_orderstatus AS value_field, CAST(count(*) AS BIGINT) AS n_records
        |  FROM orders GROUP BY 1 HAVING o_orderstatus NOT IN ('F','O'))
        |SELECT CAST(coalesce(sum(n_records), 0) AS BIGINT) AS fail_calc,
        |       CASE WHEN coalesce(sum(n_records), 0) > 1000 THEN 'error'
        |            WHEN coalesce(sum(n_records), 0) > 0 THEN 'warn'
        |            ELSE 'pass' END AS severity
        |FROM failing""".stripMargin)),

    QueryDef("q46_scd2_hard_delete_new_record", (s, d) => {
      // SN4 hard_deletes=new_record (helpers.sql:170-205): vanished keys get
      // their open row closed PLUS an is_deleted tombstone row
      val t1 = Timestamp.valueOf("2000-01-01 00:00:00")
      val t2 = Timestamp.valueOf("2000-02-01 00:00:00")
      val s1 = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("member_id"),
        col("c_mktsegment").as("segment"))
      val s2 = s1.filter(col("member_id") % 17 =!= 3)
        .select(col("member_id"),
          when(col("member_id") % 10 === 0, lit("CHANGED")).otherwise(col("segment")).as("segment"))
        .unionByName(s1.filter(col("member_id") % 13 === 5)
          .select((col("member_id") + 1000000).as("member_id"), lit("NEW").as("segment")))
      val history = Snapshot.firstRun(s1, Seq("member_id"),
        Snapshot.CheckStrategy(Seq("segment"), t1), Snapshot.NewRecord)
      Snapshot.apply(history, s2, Seq("member_id"),
        Snapshot.CheckStrategy(Seq("segment"), t2), Snapshot.NewRecord, t2)
    }, Some(
      """WITH s1 AS (SELECT CAST(c_custkey AS BIGINT) AS member_id, c_mktsegment AS segment FROM customer),
        |s2 AS (SELECT member_id, CASE WHEN member_id % 10 = 0 THEN 'CHANGED' ELSE segment END AS segment
        |       FROM s1 WHERE member_id % 17 <> 3
        |       UNION ALL
        |       SELECT member_id + 1000000, 'NEW' FROM s1 WHERE member_id % 13 = 5),
        |j AS (SELECT s1.member_id AS m1, s1.segment AS seg1, s2.member_id AS m2, s2.segment AS seg2
        |      FROM s1 FULL OUTER JOIN s2 ON s1.member_id = s2.member_id)
        |SELECT m1 AS member_id, seg1 AS segment,
        |       md5(coalesce(cast(m1 as varchar),'') || '|' || '2000-01-01 00:00:00') AS dbt_scd_id,
        |       TIMESTAMP '2000-01-01 00:00:00' AS dbt_updated_at,
        |       TIMESTAMP '2000-01-01 00:00:00' AS dbt_valid_from,
        |       CAST(NULL AS TIMESTAMP) AS dbt_valid_to,
        |       'False' AS dbt_is_deleted
        |FROM j WHERE m1 IS NOT NULL AND m2 IS NOT NULL AND seg1 = seg2
        |UNION ALL
        |SELECT m1, seg1, md5(coalesce(cast(m1 as varchar),'') || '|' || '2000-01-01 00:00:00'),
        |       TIMESTAMP '2000-01-01 00:00:00', TIMESTAMP '2000-01-01 00:00:00',
        |       TIMESTAMP '2000-02-01 00:00:00', 'False'
        |FROM j WHERE m1 IS NOT NULL AND m2 IS NOT NULL AND seg1 <> seg2
        |UNION ALL
        |SELECT m2, seg2, md5(coalesce(cast(m2 as varchar),'') || '|' || '2000-02-01 00:00:00'),
        |       TIMESTAMP '2000-02-01 00:00:00', TIMESTAMP '2000-02-01 00:00:00', NULL, 'False'
        |FROM j WHERE m1 IS NOT NULL AND m2 IS NOT NULL AND seg1 <> seg2
        |UNION ALL
        |SELECT m2, seg2, md5(coalesce(cast(m2 as varchar),'') || '|' || '2000-02-01 00:00:00'),
        |       TIMESTAMP '2000-02-01 00:00:00', TIMESTAMP '2000-02-01 00:00:00', NULL, 'False'
        |FROM j WHERE m1 IS NULL
        |UNION ALL
        |SELECT m1, seg1, md5(coalesce(cast(m1 as varchar),'') || '|' || '2000-01-01 00:00:00'),
        |       TIMESTAMP '2000-01-01 00:00:00', TIMESTAMP '2000-01-01 00:00:00',
        |       TIMESTAMP '2000-02-01 00:00:00', 'False'
        |FROM j WHERE m2 IS NULL
        |UNION ALL
        |SELECT m1, seg1,
        |       md5(md5(coalesce(cast(m1 as varchar),'') || '|' || '2000-01-01 00:00:00')
        |           || '|' || '2000-02-01 00:00:00'),
        |       TIMESTAMP '2000-02-01 00:00:00', TIMESTAMP '2000-02-01 00:00:00', NULL, 'True'
        |FROM j WHERE m2 IS NULL""".stripMargin)),

    QueryDef("q47_knn_ivf", (s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        nCentroids = 8, nProbe = 2)
    }, Some {
      val qvec = "list_transform(CAST(embedding AS DOUBLE[]), e -> CAST(floor(e * 1000 + 0.5) AS BIGINT))"
      def dot(a: String, b: String) =
        s"CAST(list_sum(list_transform(list_zip($a,$b), p -> p[1]*p[2])) AS DOUBLE)"
      def cos(a: String, b: String) =
        s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
      s"""WITH e AS (SELECT CAST(vec_id AS BIGINT) AS id, $qvec AS v FROM embeddings),
         |cent AS (SELECT id AS cent_id, v AS cv FROM e ORDER BY id LIMIT 8),
         |asg AS (
         |  SELECT id, v, cent_id FROM (
         |    SELECT e.id, e.v, c.cent_id,
         |           row_number() OVER (PARTITION BY e.id ORDER BY ${cos("e.v", "c.cv")} DESC, c.cent_id ASC) AS rn
         |    FROM e, cent c) t WHERE rn = 1),
         |probes AS (
         |  SELECT id AS query_id, v AS qv, cent_id FROM (
         |    SELECT e.id, e.v, c.cent_id,
         |           row_number() OVER (PARTITION BY e.id ORDER BY ${cos("e.v", "c.cv")} DESC, c.cent_id ASC) AS rn
         |    FROM e, cent c WHERE e.id < 10) t WHERE rn <= 2),
         |scored AS (
         |  SELECT p.query_id, a.id AS neighbor_id, ${cos("p.qv", "a.v")} AS score
         |  FROM asg a JOIN probes p ON a.cent_id = p.cent_id
         |  WHERE a.id <> p.query_id)
         |SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
         |      FROM scored) t
         |WHERE rank <= 5""".stripMargin
    }),

    QueryDef("q51_table_roundtrip", (s, d) => {
      // S4/S5 oracle gate: CTAS through the swap-write protocol (tmp dir ->
      // atomic move -> drop backup) with cluster_by, then read the files back
      // — the oracle sees only the logical content, so any write/read skew
      // (schema, encoding, lost rows) fails the hash
      val wh = Scratch.warehouse("q51", d, s, Seq("claims_1998"))
      val df = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1998-01-01").cast("date"))
        .select(claimCols: _*)
      wh.writeSwap("claims_1998", df, clusterBy = Seq("member_id"))
      wh.read("claims_1998")
    }, Some(
      s"""WITH base AS ($claimBaseSql)
         |SELECT * FROM base WHERE service_date >= DATE '1998-01-01'""".stripMargin)),

    QueryDef("q52_registry_incremental", (s, d) => {
      // end-to-end dbt lifecycle gate: the SAME model function run twice
      // through the Registry — first run CTAS, second run merge-on-key
      // against the persisted target (is_incremental branch, I6) — then the
      // stored table is read back and hash-compared
      import graft.engine.{IncrementalMat, Model, Registry, Warehouse}
      val wh = Scratch.warehouse("q52", d, s, Seq("fct_claims_inc"))
      val reg = new Registry(s, wh)
      reg.source("orders_src", table(s, d, "orders"))
      reg.register(Model("fct_claims_inc", Seq("orders_src"),
        IncrementalMat(Incremental.Merge, Seq("claim_id")),
        ctx => {
          val o = ctx.ref("orders_src").select(claimCols: _*)
          if (ctx.isIncremental)
            o.filter(col("service_date") >= lit("1998-07-01").cast("date") &&
                     col("service_date") < lit("2000-01-01").cast("date"))
              .withColumn("status", lit("R"))
          else o.filter(col("service_date") < lit("1999-01-01").cast("date"))
        }))
      reg.run()
      reg.run()
      wh.read("fct_claims_inc")
    }, Some(
      s"""WITH base AS ($claimBaseSql),
         |tgt AS (SELECT * FROM base WHERE service_date < DATE '1999-01-01'),
         |src AS (SELECT claim_id, member_id, service_date, 'R' AS status FROM base
         |        WHERE service_date >= DATE '1998-07-01' AND service_date < DATE '2000-01-01')
         |SELECT * FROM src
         |UNION ALL
         |SELECT * FROM tgt WHERE claim_id NOT IN (SELECT claim_id FROM src)""".stripMargin)),

    QueryDef("q53_registry_snapshot", (s, d) => {
      // two `dbt snapshot` invocations through the Registry (distinct
      // snapshot times, drifted source), history persisted between runs —
      // the stored SCD2 table must hash-match the pure-function oracle (q15)
      import graft.engine.{Model, Registry, SnapshotMat, Warehouse}
      val wh = Scratch.warehouse("q53", d, s, Seq("snap_dim_member"))
      val t1 = Timestamp.valueOf("2000-01-01 00:00:00")
      val t2 = Timestamp.valueOf("2000-02-01 00:00:00")
      val s1 = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("member_id"),
        col("c_mktsegment").as("segment"))
      val s2 = s1.filter(col("member_id") % 17 =!= 3)
        .select(col("member_id"),
          when(col("member_id") % 10 === 0, lit("CHANGED")).otherwise(col("segment")).as("segment"))
        .unionByName(s1.filter(col("member_id") % 13 === 5)
          .select((col("member_id") + 1000000).as("member_id"), lit("NEW").as("segment")))
      def snapModel(ts: Timestamp) = Model("snap_dim_member", Seq("members_src"),
        SnapshotMat(Seq("member_id"), Snapshot.CheckStrategy(Seq("segment"), ts),
          Snapshot.Invalidate, ts),
        ctx => ctx.ref("members_src"))
      new Registry(s, wh).source("members_src", s1).register(snapModel(t1)).run()
      new Registry(s, wh).source("members_src", s2).register(snapModel(t2)).run()
      wh.read("snap_dim_member")
    }, Some(
      """WITH s1 AS (SELECT CAST(c_custkey AS BIGINT) AS member_id, c_mktsegment AS segment FROM customer),
        |s2 AS (SELECT member_id, CASE WHEN member_id % 10 = 0 THEN 'CHANGED' ELSE segment END AS segment
        |       FROM s1 WHERE member_id % 17 <> 3
        |       UNION ALL
        |       SELECT member_id + 1000000, 'NEW' FROM s1 WHERE member_id % 13 = 5),
        |j AS (SELECT s1.member_id AS m1, s1.segment AS seg1, s2.member_id AS m2, s2.segment AS seg2
        |      FROM s1 FULL OUTER JOIN s2 ON s1.member_id = s2.member_id),
        |rows_out AS (
        |  SELECT m1 AS member_id, seg1 AS segment,
        |         TIMESTAMP '2000-01-01 00:00:00' AS dbt_updated_at,
        |         TIMESTAMP '2000-01-01 00:00:00' AS dbt_valid_from,
        |         CAST(NULL AS TIMESTAMP) AS dbt_valid_to
        |  FROM j WHERE m1 IS NOT NULL AND m2 IS NOT NULL AND seg1 = seg2
        |  UNION ALL
        |  SELECT m1, seg1, TIMESTAMP '2000-01-01 00:00:00', TIMESTAMP '2000-01-01 00:00:00',
        |         TIMESTAMP '2000-02-01 00:00:00'
        |  FROM j WHERE m1 IS NOT NULL AND m2 IS NOT NULL AND seg1 <> seg2
        |  UNION ALL
        |  SELECT m2, seg2, TIMESTAMP '2000-02-01 00:00:00', TIMESTAMP '2000-02-01 00:00:00', NULL
        |  FROM j WHERE m1 IS NOT NULL AND m2 IS NOT NULL AND seg1 <> seg2
        |  UNION ALL
        |  SELECT m2, seg2, TIMESTAMP '2000-02-01 00:00:00', TIMESTAMP '2000-02-01 00:00:00', NULL
        |  FROM j WHERE m1 IS NULL
        |  UNION ALL
        |  SELECT m1, seg1, TIMESTAMP '2000-01-01 00:00:00', TIMESTAMP '2000-01-01 00:00:00',
        |         TIMESTAMP '2000-02-01 00:00:00'
        |  FROM j WHERE m2 IS NULL)
        |SELECT member_id, segment,
        |       md5(coalesce(cast(member_id as varchar),'') || '|' ||
        |           coalesce(cast(dbt_valid_from as varchar),'')) AS dbt_scd_id,
        |       dbt_updated_at, dbt_valid_from, dbt_valid_to
        |FROM rows_out""".stripMargin)),

    QueryDef("q50_dim_member_current", (s, d) => {
      // dim_member stub (SURVEY §0.3): the current-row view over the SCD2
      // snapshot history — open version (valid_to IS NULL) per key
      val t1 = Timestamp.valueOf("2000-01-01 00:00:00")
      val t2 = Timestamp.valueOf("2000-02-01 00:00:00")
      val s1 = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("member_id"),
        col("c_mktsegment").as("segment"))
      val s2 = s1.filter(col("member_id") % 17 =!= 3)
        .select(col("member_id"),
          when(col("member_id") % 10 === 0, lit("CHANGED")).otherwise(col("segment")).as("segment"))
        .unionByName(s1.filter(col("member_id") % 13 === 5)
          .select((col("member_id") + 1000000).as("member_id"), lit("NEW").as("segment")))
      val history = Snapshot.firstRun(s1, Seq("member_id"),
        Snapshot.CheckStrategy(Seq("segment"), t1))
      Snapshot.apply(history, s2, Seq("member_id"),
          Snapshot.CheckStrategy(Seq("segment"), t2), Snapshot.Invalidate, t2)
        .filter(col("dbt_valid_to").isNull)
        .select(col("member_id"), col("segment"),
          col("dbt_valid_from").as("member_since"))
    }, Some(
      """WITH s1 AS (SELECT CAST(c_custkey AS BIGINT) AS member_id, c_mktsegment AS segment FROM customer),
        |s2 AS (SELECT member_id, CASE WHEN member_id % 10 = 0 THEN 'CHANGED' ELSE segment END AS segment
        |       FROM s1 WHERE member_id % 17 <> 3
        |       UNION ALL
        |       SELECT member_id + 1000000, 'NEW' FROM s1 WHERE member_id % 13 = 5),
        |j AS (SELECT s1.member_id AS m1, s1.segment AS seg1, s2.member_id AS m2, s2.segment AS seg2
        |      FROM s1 FULL OUTER JOIN s2 ON s1.member_id = s2.member_id)
        |SELECT m1 AS member_id, seg1 AS segment, TIMESTAMP '2000-01-01 00:00:00' AS member_since
        |FROM j WHERE m1 IS NOT NULL AND m2 IS NOT NULL AND seg1 = seg2
        |UNION ALL
        |SELECT m2, seg2, TIMESTAMP '2000-02-01 00:00:00'
        |FROM j WHERE m1 IS NOT NULL AND m2 IS NOT NULL AND seg1 <> seg2
        |UNION ALL
        |SELECT m2, seg2, TIMESTAMP '2000-02-01 00:00:00' FROM j WHERE m1 IS NULL""".stripMargin)),

    QueryDef("q49_salted_join", (s, d) => {
      // the explicit-salting scale path must be result-identical to the plain
      // join the oracle runs (ScaleSpec proves equivalence on controlled skew;
      // this gates it at benchmark scale)
      val fact = table(s, d, "lineitem").select(
        col("l_partkey").as("part_id"),
        col("l_orderkey").cast("long").as("claim_id"),
        col("l_quantity").cast("decimal(18,2)").as("qty"))
      val dim = table(s, d, "part").select(
        col("p_partkey").as("part_id"), col("p_brand").as("brand"))
      graft.engine.Skew.saltedJoin(fact, dim, Seq("part_id"), k = 8,
          factUniquifier = "claim_id")
        .groupBy(col("brand"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("qty")).cast("double").as("total_qty"))
    }, Some(
      """SELECT p_brand AS brand, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1""".stripMargin)),

    QueryDef("q48_seed_codes", (s, d) => {
      // S1: header CSV -> pinned StructType, joined as a broadcast code dim
      val codes = Sources.seed(s, SeedPath, Some(procCodesSchema))
      table(s, d, "orders")
        .join(broadcast(codes), upper(col("o_orderpriority")) === upper(col("code")))
        .groupBy(col("code"), col("durability_rank"), col("effective_date"))
        .agg(count(lit(1)).as("n_claims"),
          min(col("o_orderdate").cast("date")).as("first_used"))
    }, Some(
      s"""SELECT c.code, CAST(c.durability_rank AS INTEGER) AS durability_rank,
         |       c.effective_date,
         |       CAST(count(*) AS BIGINT) AS n_claims,
         |       CAST(min(o.o_orderdate) AS DATE) AS first_used
         |FROM orders o
         |JOIN read_csv('$SeedPath', header=true) c
         |  ON upper(o.o_orderpriority) = upper(c.code)
         |GROUP BY 1, 2, 3""".stripMargin))
  )
}
