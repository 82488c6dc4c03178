package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.engine.Snapshot
import graft.engine.Snapshot._
import graft.queries.Scratch

/** SCD2 scenario vectors per FIXTURES.md §3: new key -> insert; changed row ->
  * close + insert; unchanged -> no-op; hard deletes under
  * ignore/invalidate/new_record (strategies.sql:56-187, helpers.sql:98-205).
  */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2024-02-01 00:00:00")

  private def s1 = Seq((1L, "gold", t1), (2L, "silver", t1), (3L, "bronze", t1))
    .toDF("member_id", "plan", "updated_at")
  // 1 changed, 2 unchanged, 3 deleted, 4 new
  private def s2 = Seq((1L, "platinum", t2), (2L, "silver", t1), (4L, "new", t2))
    .toDF("member_id", "plan", "updated_at")

  private def openPlans(df: DataFrame): Map[Long, String] =
    df.filter("dbt_valid_to IS NULL").collect()
      .map(r => r.getAs[Long]("member_id") -> r.getAs[String]("plan")).toMap

  test("check strategy: full lifecycle with invalidate deletes") {
    val hist1 = Snapshot.firstRun(s1, Seq("member_id"), CheckStrategy(Seq("plan"), t1))
    assert(hist1.count() === 3)
    assert(hist1.filter("dbt_valid_to IS NOT NULL").count() === 0)

    val hist2 = Snapshot.apply(hist1, s2, Seq("member_id"),
      CheckStrategy(Seq("plan"), t2), Invalidate, t2)
    // 3 original rows (1 closed, 2 open-unchanged?) -> rows: closed v1 of member1,
    // new open member1, open member2, closed member3, open member4
    assert(hist2.count() === 5)
    assert(openPlans(hist2) === Map(1L -> "platinum", 2L -> "silver", 4L -> "new"))
    val closed = hist2.filter("dbt_valid_to IS NOT NULL").collect()
      .map(r => r.getAs[Long]("member_id")).toSet
    assert(closed === Set(1L, 3L))
  }

  test("timestamp strategy: row changed iff valid_from < updated_at (strategies.sql:56-88)") {
    val hist1 = Snapshot.firstRun(s1, Seq("member_id"), TimestampStrategy("updated_at"))
    val hist2 = Snapshot.apply(hist1, s2, Seq("member_id"),
      TimestampStrategy("updated_at"), IgnoreDeletes, t2)
    // member2's updated_at not newer -> unchanged; member3 kept open (ignore deletes)
    assert(openPlans(hist2) === Map(1L -> "platinum", 2L -> "silver", 3L -> "bronze", 4L -> "new"))
    assert(hist2.count() === 5)
  }

  test("hard_deletes=new_record adds a tombstone (helpers.sql:170-205)") {
    val hist1 = Snapshot.firstRun(s1, Seq("member_id"), CheckStrategy(Seq("plan"), t1), NewRecord)
    val hist2 = Snapshot.apply(hist1, s2, Seq("member_id"),
      CheckStrategy(Seq("plan"), t2), NewRecord, t2)
    val m3 = hist2.filter("member_id = 3").collect()
    assert(m3.length === 2)
    val tomb = m3.filter(_.getAs[String]("dbt_is_deleted") == "True")
    assert(tomb.length === 1)
    assert(tomb(0).isNullAt(tomb(0).fieldIndex("dbt_valid_to"))) // tombstone is the open row
    val closedV1 = m3.filter(_.getAs[String]("dbt_is_deleted") == "False")
    assert(closedV1(0).getAs[Timestamp]("dbt_valid_to") === t2)
  }

  test("unchanged second run is a no-op (idempotence)") {
    val hist1 = Snapshot.firstRun(s1, Seq("member_id"), CheckStrategy(Seq("plan"), t1))
    val hist2 = Snapshot.apply(hist1, s1, Seq("member_id"),
      CheckStrategy(Seq("plan"), t2), Invalidate, t2)
    assert(hist2.exceptAll(hist1).isEmpty && hist1.exceptAll(hist2).isEmpty)
  }

  test("a NULL-key open history row survives subsequent runs intact") {
    // NULL keys never join under SQL `=`, so the row must take the
    // VANISHED path (kept open under IgnoreDeletes), never be misread as
    // "no snapshot row" and replaced by an all-NULL insert
    val withNull = Seq((Some(1L), "a"), (None, "null-key"))
      .toDF("member_id", "plan")
    val h1 = Snapshot.firstRun(withNull, Seq("member_id"), CheckStrategy(Seq("plan"), t1))
    assert(h1.count() === 2)
    // run 2: source still carries the NULL-key row (it re-inserts, dbt NULL
    // semantics) and key 1 unchanged
    val h2 = Snapshot.apply(h1, withNull, Seq("member_id"),
      CheckStrategy(Seq("plan"), t2), IgnoreDeletes, t2)
    val nullRows = h2.filter("member_id IS NULL").collect()
    // original open row intact (data preserved!) + the re-inserted version
    assert(nullRows.length === 2)
    assert(nullRows.forall(_.getAs[String]("plan") === "null-key"),
      "NULL-key history row lost its data")
    val origOpen = nullRows.filter(r =>
      r.getAs[java.sql.Timestamp]("dbt_valid_from") === t1 &&
        r.isNullAt(r.fieldIndex("dbt_valid_to")))
    assert(origOpen.length === 1, "the t1 open version must remain open and intact")
    // key 1 unchanged: exactly one open version
    assert(h2.filter("member_id = 1").count() === 1)
  }

  test("snapshot_meta_column_names: rename/restore bijection; validation raises") {
    val names = Map("dbt_scd_id" -> "scd_key", "dbt_valid_to" -> "valid_end")
    val hist = Snapshot.firstRun(s1, Seq("member_id"), CheckStrategy(Seq("plan"), t1))
    val renamed = Snapshot.renameMeta(hist, names)
    assert(renamed.columns.contains("scd_key") && renamed.columns.contains("valid_end"))
    assert(!renamed.columns.contains("dbt_scd_id") && !renamed.columns.contains("dbt_valid_to"))
    // untouched meta columns keep canonical names
    assert(renamed.columns.contains("dbt_valid_from"))
    val restored = Snapshot.restoreMeta(renamed, names)
    assert(restored.columns.sorted.toSeq === hist.columns.sorted.toSeq)
    // unknown meta / duplicate targets / data-column shadow all raise
    intercept[IllegalArgumentException] {
      Snapshot.validateMetaNames(Map("nope" -> "x"), Seq("member_id"))
    }
    intercept[IllegalArgumentException] {
      Snapshot.validateMetaNames(
        Map("dbt_scd_id" -> "x", "dbt_valid_to" -> "x"), Seq("member_id"))
    }
    intercept[IllegalArgumentException] {
      Snapshot.validateMetaNames(Map("dbt_scd_id" -> "plan"), Seq("plan"))
    }
  }

  test("dbt_valid_to_current: sentinel on stored open rows, stripped on read-back") {
    import graft.engine.{Model, Registry, SnapshotMat, Warehouse}
    import org.apache.spark.sql.functions.col
    val sentinel = java.sql.Timestamp.valueOf("9999-12-31 00:00:00")
    val root = Scratch.tempDir("graft_vtc").toString
    val wh = new Warehouse(root, spark)
    def run(src: org.apache.spark.sql.DataFrame, ts: java.sql.Timestamp): Unit = {
      val reg = new Registry(spark, wh)
      reg.source("src", src)
      reg.register(Model("snap", Seq("src"),
        SnapshotMat(Seq("member_id"), CheckStrategy(Seq("plan"), ts),
          Snapshot.IgnoreDeletes, ts, validToCurrent = Some(sentinel)),
        ctx => ctx.ref("src")))
      reg.run(); ()
    }
    run(Seq((1L, "a"), (2L, "b")).toDF("member_id", "plan"), t1)
    // stored open rows carry the sentinel, never NULL
    val stored1 = wh.read("snap")
    assert(stored1.filter(col("dbt_valid_to").isNull).count() === 0L)
    assert(stored1.filter(col("dbt_valid_to") === sentinel).count() === 2L)
    // run 2 changes member 1: its old version closes at t2, the new one
    // and untouched member 2 stay sentineled — the strip-on-read worked
    run(Seq((1L, "A2"), (2L, "b")).toDF("member_id", "plan"), t2)
    val stored2 = wh.read("snap")
    assert(stored2.count() === 3L)
    assert(stored2.filter(col("dbt_valid_to") === sentinel).count() === 2L)
    assert(stored2.filter(col("dbt_valid_to") === t2).count() === 1L)
  }

  test("valid_to sentinel is stored as INT64/TIMESTAMP(MICROS), never INT96") {
    // r9 q301 post-mortem: Spark's legacy INT96 parquet timestamps are
    // force-read by pyarrow as timestamp[ns], wrapping the 9999-12-31
    // sentinel to 1816-03-29 — silent corruption for ANY arrow-stack
    // consumer of the warehouse. The session-wide
    // spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS fix is pinned
    // here at the parquet-footer level so a config regression fails loudly.
    import graft.engine.{Model, Registry, SnapshotMat, Warehouse}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val sentinel = java.sql.Timestamp.valueOf("9999-12-31 00:00:00")
    val root = Scratch.tempDir("graft_int96").toString
    val wh = new Warehouse(root, spark)
    val reg = new Registry(spark, wh)
    reg.source("src", Seq((1L, "a")).toDF("member_id", "plan"))
    reg.register(Model("snap", Seq("src"),
      SnapshotMat(Seq("member_id"), CheckStrategy(Seq("plan"), t1),
        Snapshot.IgnoreDeletes, t1, validToCurrent = Some(sentinel)),
      ctx => ctx.ref("src")))
    reg.run()
    val parts = new java.io.File(s"$root/snap")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.getAbsolutePath),
        spark.sessionState.newHadoopConf())
      val reader = ParquetFileReader.open(in)
      try {
        val pt = reader.getFooter.getFileMetaData.getSchema
          .getType(Seq("dbt_valid_to"): _*).asPrimitiveType()
        assert(pt.getPrimitiveTypeName === PrimitiveTypeName.INT64,
          s"dbt_valid_to stored as ${pt.getPrimitiveTypeName} — INT96 regression")
        pt.getLogicalTypeAnnotation match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            assert(ts.getUnit === TimeUnit.MICROS)
          case other => fail(s"dbt_valid_to logical type: $other")
        }
      } finally reader.close()
    }
    // and the sentinel round-trips intact through the micros encoding
    import org.apache.spark.sql.functions.col
    assert(wh.read("snap").filter(col("dbt_valid_to") === sentinel).count() === 1L)
  }

  test("scd_id matches the surrogate-key md5 recipe (strategies.sql:40-50)") {
    val hist = Snapshot.firstRun(s1, Seq("member_id"), CheckStrategy(Seq("plan"), t1))
    val got = hist.filter("member_id = 1").collect()(0).getAs[String]("dbt_scd_id")
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest("1|2024-01-01 00:00:00".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got === expect)
  }
}
