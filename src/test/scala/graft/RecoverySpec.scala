package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.Warehouse
import graft.queries.Scratch

/** Kill-window coverage for every swap protocol's crash-recovery path
  * (VERDICT r3 §wrong-2: recovery code that has never executed a crash is
  * where data-loss bugs hide). Each protocol is killed at EVERY commit point
  * it exposes (the failpoint names are discovered from a clean run, so a new
  * commit step added to Warehouse is automatically covered), then:
  *
  *  1. a fresh Warehouse on the same root must see a CONSISTENT state —
  *     exactly the before-image or the after-image, never a partial mix;
  *  2. re-running the same operation must converge to the after-image
  *     (crash-then-retry is the actual production story: the scheduler or
  *     stream replays the batch).
  */
/** One swap protocol under test: set up initial state, run the op, read the
  * logical state back. Bucketed-table protos may be unreadable mid-recovery
  * (the catalog swap window) — consistency is then asserted only when
  * `readable` holds. (Top-level: a spec-nested case class trips the
  * unchecked-outer-reference warning in pattern contexts.)
  */
private[graft] final case class Proto(
    name: String,
    setup: Warehouse => Unit,
    op: Warehouse => Unit,
    state: Warehouse => Map[Long, String],
    before: Map[Long, String],
    after: Map[Long, String],
    readable: Warehouse => Boolean = _ => true)

class RecoverySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def crashAt(wh: Warehouse, point: String): Unit =
    wh.failpoint = p =>
      if (p == point) throw new RuntimeException(s"injected crash at $p")

  /** Discover the failpoint names a clean run of the protocol passes. */
  private def discoverPoints(p: Proto): Seq[String] = {
    val wh = new Warehouse(Scratch.tempDir("graft_rec_d").toString, spark)
    p.setup(wh)
    val rec = scala.collection.mutable.ArrayBuffer.empty[String]
    wh.failpoint = rec += _
    p.op(wh)
    wh.failpoint = _ => ()
    assert(p.state(wh) === p.after, s"${p.name}: clean run must produce the after-image")
    rec.toSeq
  }

  private def runMatrix(p: Proto): Unit = {
    val points = discoverPoints(p)
    assert(points.nonEmpty, s"${p.name}: expected at least one commit point")
    points.foreach { point =>
      val root = Scratch.tempDir("graft_rec").toString
      val wh = new Warehouse(root, spark)
      p.setup(wh)
      crashAt(wh, point)
      val ex = intercept[Exception](p.op(wh))
      assert(ex.getMessage != null && ex.getMessage.contains("injected crash"),
        s"${p.name}@$point: expected the injected crash, got $ex")
      // next open: a FRESH Warehouse (the crashed process is gone)
      val wh2 = new Warehouse(root, spark)
      if (p.readable(wh2)) {
        val st = p.state(wh2)
        assert(st == p.before || st == p.after,
          s"${p.name}@$point: recovered state is a partial mix:\n$st")
      }
      // retry converges (the production replay path)
      p.op(wh2)
      assert(p.state(wh2) === p.after,
        s"${p.name}@$point: retry after crash must reach the after-image")
    }
  }

  private def kvState(wh: Warehouse, name: String): Map[Long, String] =
    wh.read(name).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap


  test("writeSwap survives a kill at every commit point") {
    runMatrix(Proto(
      name = "writeSwap",
      setup = wh => wh.writeSwap("t", Seq((1L, "old")).toDF("k", "v")),
      op = wh => wh.writeSwap("t", Seq((2L, "new")).toDF("k", "v")),
      state = kvState(_, "t"),
      before = Map(1L -> "old"),
      after = Map(2L -> "new")))
  }

  test("overwritePeriods slice swap survives a kill at every commit point (zero/some/all dirs moved)") {
    // target: three period partitions; the op replaces p=2 and EMPTIES p=3
    // (an enumerated period with no batch rows), p=1 is out of scope
    def part(k: Long, v: String, p: String) = (k, v, p)
    runMatrix(Proto(
      name = "overwritePeriods",
      setup = wh => wh.writeSwap("s",
        Seq(part(1L, "old1", "1"), part(2L, "old2", "2"), part(3L, "old3", "3"))
          .toDF("k", "v", "p"),
        partitionBy = Seq("p")),
      op = wh => wh.overwritePeriods("s",
        Seq(part(20L, "new2", "2")).toDF("k", "v", "p"), "p", Seq("2", "3")),
      state = kvState(_, "s"),
      before = Map(1L -> "old1", 2L -> "old2", 3L -> "old3"),
      after = Map(1L -> "old1", 20L -> "new2")))
  }

  test("upsertPartitioned staged commit survives a kill at every commit point") {
    val batch1 = (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v")
    val batch2 = Seq((1L, "V1-upd"), (41L, "new")).toDF("k", "v")
    val beforeM = (1L to 40L).map(k => k -> s"v$k").toMap
    runMatrix(Proto(
      name = "upsertPartitioned",
      setup = wh => wh.upsertPartitioned("u", batch1, Seq("k"), nBuckets = 4),
      op = wh => wh.upsertPartitioned("u", batch2, Seq("k"), nBuckets = 4),
      state = kvState(_, "u"),
      before = beforeM,
      after = beforeM + (1L -> "V1-upd") + (41L -> "new")))
  }

  test("mergeBucketed generation swap survives a kill at every commit point") {
    val table = "rec_bkt_matrix"
    val batch1 = (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v")
    val batch2 = Seq((1L, "V1-upd"), (41L, "new")).toDF("k", "v")
    val beforeM = (1L to 40L).map(k => k -> s"v$k").toMap
    try {
      runMatrix(Proto(
        name = "mergeBucketed",
        setup = wh => wh.writeBucketed(table, batch1, Seq("k"), nBuckets = 4),
        op = wh => wh.mergeBucketed(table, batch2, Seq("k"), nBuckets = 4),
        state = _ => spark.table(table).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap,
        before = beforeM,
        after = beforeM + (1L -> "V1-upd") + (41L -> "new"),
        // the DROP->RENAME window leaves no table under the target name;
        // recovery is defined to happen on the next mergeBucketed
        readable = _ => spark.catalog.tableExists(table)))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__gen_a")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__gen_b")
    }
  }

  test("compactBucketed survives a kill at every commit point (content-neutral swap)") {
    // compaction rides the same generation-swap protocol as mergeBucketed;
    // its before- and after-images are IDENTICAL (content untouched), so
    // every kill point must converge back to exactly the original rows
    val table = "rec_bkt_compact"
    val rows = (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v")
    val content = (1L to 40L).map(k => k -> s"v$k").toMap
    try {
      runMatrix(Proto(
        name = "compactBucketed",
        setup = wh => {
          wh.writeBucketed(table, rows, Seq("k"), nBuckets = 4)
          wh.appendBucketed(table, Seq((41L, "a")).toDF("k", "v"), Seq("k"), 4)
        },
        op = wh => wh.compactBucketed(table, Seq("k"), nBuckets = 4),
        state = _ => spark.table(table).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap,
        before = content + (41L -> "a"),
        after = content + (41L -> "a"),
        readable = _ => spark.catalog.tableExists(table)))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__gen_a")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__gen_b")
    }
  }

  test("slice-intent marker replay: zero, some, and all staged dirs moved") {
    // the three completeSliceSwap entry states, constructed EXPLICITLY (the
    // matrix above reaches them through live crashes; this pins the replay
    // semantics on hand-built directory layouts, independent of the writer)
    def mkTarget(wh: Warehouse): Unit = wh.writeSwap("r",
      Seq((1L, "old1", "1"), (2L, "old2", "2"), (3L, "old3", "3"))
        .toDF("k", "v", "p"),
      partitionBy = Seq("p"))
    val afterM = Map(1L -> "old1", 20L -> "new2")
    Seq("zero", "some", "all").foreach { phase =>
      val root = Scratch.tempDir(s"graft_marker_$phase").toString
      val wh = new Warehouse(root, spark)
      mkTarget(wh)
      // stage the replacement slice exactly as overwritePeriods does
      val tmp = java.nio.file.Paths.get(root, "r__slice_tmp")
      Seq((20L, "new2", "2")).toDF("k", "v", "p")
        .write.partitionBy("p").parquet(tmp.toString)
      wh.putMeta("r__slice_intent", "p\n2,3\np=2")
      if (phase == "some" || phase == "all") { // p=2 already moved in
        val dest = java.nio.file.Paths.get(root, "r", "p=2")
        wh.deleteRec(dest)
        Files.move(tmp.resolve("p=2"), dest)
      }
      if (phase == "all") { // p=3 already emptied, tmp cleaned
        wh.deleteRec(java.nio.file.Paths.get(root, "r", "p=3"))
        wh.deleteRec(tmp)
      }
      // next open replays the marker to completion
      val wh2 = new Warehouse(root, spark)
      assert(kvState(wh2, "r") === afterM, s"marker replay failed at phase=$phase")
      assert(!Files.exists(tmp), s"tmp dir must be cleaned (phase=$phase)")
      assert(wh2.getMeta("r__slice_intent").isEmpty,
        s"marker must be consumed (phase=$phase)")
    }
  }

  test("drop() after a swap crash does not resurrect the table from its backup") {
    // crash writeSwap in the backup-only window, then DROP the table: the
    // leftover backup must die with it — recover() restoring it on the next
    // open would resurrect a table the operator deliberately deleted
    val root = Scratch.tempDir("graft_drop_res").toString
    val wh = new Warehouse(root, spark)
    wh.writeSwap("t", Seq((1L, "old")).toDF("k", "v"))
    crashAt(wh, "swap:backed-up")
    intercept[Exception](wh.writeSwap("t", Seq((2L, "new")).toDF("k", "v")))
    val wh2 = new Warehouse(root, spark)
    wh2.drop("t")
    val wh3 = new Warehouse(root, spark)
    assert(!wh3.exists("t"), "dropped table resurrected from stale backup")
    // and a pending slice marker also dies with its table
    wh3.writeSwap("s",
      Seq((1L, "a", "1"), (2L, "b", "2")).toDF("k", "v", "p"),
      partitionBy = Seq("p"))
    crashAt(wh3, "slice:marker")
    intercept[Exception](wh3.overwritePeriods("s",
      Seq((9L, "B", "2")).toDF("k", "v", "p"), "p", Seq("2")))
    val wh4 = new Warehouse(root, spark)
    wh4.drop("s")
    val wh5 = new Warehouse(root, spark)
    assert(!wh5.exists("s"))
    assert(wh5.getMeta("s__slice_intent").isEmpty)
  }

  test("drop() kill windows: a half-finished drop completes on the next open") {
    // the ADVICE r6 hazard: checkpoint deleted, crash, table still present —
    // a restarted aggStream would replay into the surviving table and
    // silently double-count its sum-combined state. The drop-intent marker
    // must finish the drop before any reader/stream reopens the name.
    for (point <- Seq("drop:checkpoint-deleted", "drop:table-deleted")) {
      val root = Scratch.tempDir("graft_rec_drop").toString
      val wh = new Warehouse(root, spark)
      wh.writeSwap("t", Seq((1L, "x")).toDF("k", "v"))
      // plant a stand-in stream checkpoint like mergeStream/aggStream do
      val cp = java.nio.file.Paths.get(root, "_checkpoints", "t")
      Files.createDirectories(cp)
      Files.writeString(cp.resolve("offsets"), "1")
      crashAt(wh, point)
      intercept[Exception](wh.drop("t"))
      // next open: the half-dropped table is gone BEFORE exists() answers
      val wh2 = new Warehouse(root, spark)
      assert(!wh2.exists("t"), s"$point: half-dropped table still visible")
      assert(!Files.exists(cp), s"$point: stream checkpoint survived the drop")
      assert(wh2.getMeta("t__drop_intent").isEmpty, s"$point: marker not consumed")
      // the name is cleanly reusable afterwards
      wh2.writeSwap("t", Seq((2L, "y")).toDF("k", "v"))
      assert(kvState(wh2, "t") === Map(2L -> "y"))
    }
  }

  test("crashed drop + bucketed rebuild: the stale marker must not kill the new table") {
    // writeBucketed/appendBucketed bypass the read-side completeDrop, so
    // they must run recover() themselves — without it, a drop() that died
    // after deleting the table leaves its intent marker, the rebuild
    // succeeds, and the NEXT exists()/read() completes the old drop
    // against the freshly written live table
    val root = Scratch.tempDir("graft_rec_bkt_drop").toString
    val wh = new Warehouse(root, spark)
    wh.writeBucketed("bt", Seq((1L, "x")).toDF("k", "v"), Seq("k"), 4)
    crashAt(wh, "drop:table-deleted")
    intercept[Exception](wh.drop("bt"))
    val wh2 = new Warehouse(root, spark)
    wh2.writeBucketed("bt", Seq((2L, "y")).toDF("k", "v"), Seq("k"), 4)
    val wh3 = new Warehouse(root, spark)
    assert(wh3.exists("bt"), "stale drop-intent destroyed the rebuilt table")
    assert(wh3.read("bt").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      === Map(2L -> "y"))
    // appendBucketed after a crashed drop: fail the missing-target require
    // loudly, never append into half-dropped state
    crashAt(wh3, "drop:table-deleted")
    intercept[Exception](wh3.drop("bt"))
    val wh4 = new Warehouse(root, spark)
    intercept[IllegalArgumentException](
      wh4.appendBucketed("bt", Seq((3L, "z")).toDF("k", "v"), Seq("k"), 4))
  }

  test("double crash: dying again DURING marker replay still converges") {
    // crash the slice commit right after the marker, then crash the
    // RECOVERY itself mid-replay (after the first dir applies) — the third
    // open must still converge: the marker is only consumed after a
    // complete replay, so replay is resumable from any prefix
    val root = Scratch.tempDir("graft_rec_double").toString
    val wh = new Warehouse(root, spark)
    wh.writeSwap("s",
      Seq((1L, "old1", "1"), (2L, "old2", "2"), (3L, "old3", "3"))
        .toDF("k", "v", "p"),
      partitionBy = Seq("p"))
    crashAt(wh, "slice:marker")
    intercept[Exception](wh.overwritePeriods("s",
      Seq((20L, "new2", "2")).toDF("k", "v", "p"), "p", Seq("2", "3")))
    val wh2 = new Warehouse(root, spark)
    crashAt(wh2, "slice:applied:p=2")
    intercept[Exception](wh2.read("s")) // recovery itself dies mid-replay
    val wh3 = new Warehouse(root, spark)
    assert(kvState(wh3, "s") === Map(1L -> "old1", 20L -> "new2"))
    assert(wh3.getMeta("s__slice_intent").isEmpty, "marker must be consumed")
  }

  test("seeded random crash/op sequences converge to the model state") {
    // generalizes the per-point matrix to SEQUENCES: a crash's debris (stale
    // backup, pending marker, staged tmp) must not corrupt the NEXT
    // operation on the same table. Each iteration runs a random op sequence
    // against a plain in-memory model; every op may crash at a random
    // commit point and is then retried on a fresh Warehouse (the production
    // replay story). Fixed seed -> reproducible failures.
    val rnd = new scala.util.Random(260812L)
    val partVals = Seq("1", "2", "3")
    (1 to 12).foreach { iter =>
      val root = Scratch.tempDir("graft_rec_rand").toString
      var wh = new Warehouse(root, spark)
      var modelT = Set.empty[(Long, String, String)] // table "t" rows
      var modelU = Map.empty[Long, String]           // upsert table "u"
      def randRows(ps: Seq[String]): Seq[(Long, String, String)] =
        rnd.shuffle((1 to 20).toList).take(1 + rnd.nextInt(5))
          .map(k => (k.toLong, s"v${rnd.nextInt(1000)}", ps(rnd.nextInt(ps.size))))
      def runOp(op: Warehouse => Unit, points: Seq[String]): Unit = {
        val crashPoint =
          if (rnd.nextBoolean()) Some(points(rnd.nextInt(points.size))) else None
        crashPoint match {
          case Some(pt) =>
            crashAt(wh, pt)
            try { op(wh); wh.failpoint = _ => () } // point may not fire (e.g. no backup step on first write)
            catch { case e: Exception =>
              assert(e.getMessage != null && e.getMessage.contains("injected crash"), e.toString)
              wh = new Warehouse(root, spark) // next process: recover + retry
              op(wh)
            }
          case None => op(wh)
        }
      }
      val swapPoints  = Seq("swap:staged", "swap:backed-up", "swap:swapped")
      def slicePoints(ps: Seq[String]) =
        Seq("slice:staged", "slice:marker", "slice:cleaned") ++
          ps.map(v => s"slice:applied:p=$v")
      val upsertPoints = Seq("slice:staged", "slice:marker", "slice:cleaned")

      // op 1 always creates "t"
      val init = randRows(partVals)
      runOp(w => w.writeSwap("t", init.toDF("k", "v", "p"), partitionBy = Seq("p")),
        swapPoints)
      modelT = init.toSet
      (1 to 4).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 => // full replace
            val rows = randRows(partVals)
            runOp(w => w.writeSwap("t", rows.toDF("k", "v", "p"),
              partitionBy = Seq("p")), swapPoints)
            modelT = rows.toSet
          case 1 => // slice replace (batch rows confined to the periods)
            val ps = rnd.shuffle(partVals).take(1 + rnd.nextInt(partVals.size))
            val batch = randRows(ps)
            runOp(w => w.overwritePeriods("t", batch.toDF("k", "v", "p"), "p", ps),
              slicePoints(ps))
            modelT = modelT.filterNot(r => ps.contains(r._3)) ++ batch
          case 2 => // keyed upsert into "u"
            val batch = randRows(partVals).map(r => (r._1, r._2))
            runOp(w => w.upsertPartitioned("u", batch.toDF("k", "v"),
              Seq("k"), nBuckets = 4), upsertPoints)
            modelU = modelU ++ batch
        }
      }
      val gotT = wh.read("t").select(col("k"), col("v"), col("p").cast("string"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(gotT === modelT, s"iter $iter: table t diverged from model")
      if (modelU.nonEmpty) {
        val gotU = kvState(wh, "u")
        assert(gotU === modelU, s"iter $iter: table u diverged from model")
      }
    }
  }

  test("incremental-dedup torn ingest (crash between band and shingle appends) self-repairs") {
    // ADVICE r7: a crash between deltaRun's two index appends leaves band
    // rows whose ids have no shingle rows — later deltas probe those ids
    // into candidates that verifyJaccard's inner join silently DROPS
    // (missing pairs). The intent marker must make the next run repair the
    // torn state so the replayed batch lands whole.
    import graft.pipeline.IncrementalDedup
    val wh = new Warehouse(Scratch.tempDir("graft_rec_dd").toString, spark)
    val mk = (ids: Seq[Long]) => ids.map(i =>
      (i, s"alpha beta gamma delta eps zeta token$i tail$i")).toDF("doc_id", "text")
    try {
      IncrementalDedup.initRun(wh, "dd", mk(1L to 8L),
        n = 3, k = 8, bandSize = 2, threshold = 0.9, nBuckets = 4)
      val delta = Seq((100L, "alpha beta gamma delta eps zeta token1 tail1"))
        .toDF("doc_id", "text")
      crashAt(wh, "dedupingest:bands-appended")
      val e = intercept[RuntimeException](IncrementalDedup.deltaRun(
        wh, "dd", delta, n = 3, k = 8, bandSize = 2, threshold = 0.9, nBuckets = 4))
      assert(e.getMessage.contains("injected crash"))
      wh.failpoint = _ => ()
      // the torn state is REAL: bands knows id 100, shingles do not
      val bandIds = spark.table("dd_bands").select("id").as[Long].collect().toSet
      val shIds = spark.table("dd_sh").select("id").as[Long].collect().toSet
      assert(bandIds.contains(100L) && !shIds.contains(100L),
        s"crash injection did not produce the torn state (bands=$bandIds sh=$shIds)")
      // production story: replay the failed batch — repair runs first
      // (orphaned band rows removed), then the batch lands whole
      val pairs = IncrementalDedup.deltaRun(wh, "dd", delta,
        n = 3, k = 8, bandSize = 2, threshold = 0.9, nBuckets = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs === Set((1L, 100L)), s"replayed batch pairs: $pairs")
      // the index is whole again: no band orphans, and a LATER delta
      // matching doc 100's text sees BOTH historical copies — this is
      // exactly the pair the un-repaired torn state would silently lose
      val bandIds2 = spark.table("dd_bands").select("id").as[Long].collect().toSet
      val shIds2 = spark.table("dd_sh").select("id").as[Long].collect().toSet
      assert((bandIds2 -- shIds2).isEmpty, s"band orphans survive: ${bandIds2 -- shIds2}")
      val pairs3 = IncrementalDedup.deltaRun(wh, "dd",
        Seq((200L, "alpha beta gamma delta eps zeta token1 tail1")).toDF("doc_id", "text"),
        n = 3, k = 8, bandSize = 2, threshold = 0.9, nBuckets = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs3 === Set((1L, 200L), (100L, 200L)),
        s"post-repair index must serve both historical copies: $pairs3")
    } finally Seq("dd_bands", "dd_sh").foreach(wh.drop)
  }

  test("marker-absence probe is cached: repeated reads do not re-probe meta") {
    val wh = new Warehouse(Scratch.tempDir("graft_probe").toString, spark)
    wh.writeSwap("t", Seq((1L, "a")).toDF("k", "v"))
    wh.read("t") // first read may probe (and caches absence)
    val p0 = wh.metaProbes.get()
    wh.read("t"); wh.exists("t"); wh.read("t")
    assert(wh.metaProbes.get() === p0,
      "hot read path must not probe the slice-intent marker again")
    // a new slice swap invalidates the cache and the marker is honored
    wh.writeSwap("s",
      Seq((1L, "old1", "1"), (2L, "old2", "2")).toDF("k", "v", "p"),
      partitionBy = Seq("p"))
    wh.overwritePeriods("s", Seq((20L, "new2", "2")).toDF("k", "v", "p"),
      "p", Seq("2"))
    assert(kvState(wh, "s") === Map(1L -> "old1", 20L -> "new2"))
  }

  test("dropPeriodsBefore: victims gone, survivors byte-identical, crash-at-marker resumes, idempotent, manifest re-armed") {
    val root = Scratch.tempDir("graft_rec_ret").toString
    val wh = new Warehouse(root, spark)
    val rows = (1 to 4).flatMap(day => (0L until 50L).map(v =>
      (day * 1000L + v, s"2024-01-0$day"))).toDF("v", "p")
    wh.writeSwap("t", rows.repartitionByRange(4, col("p"), col("v"))
      .sortWithinPartitions("p", "v"),
      partitionBy = Seq("p"), statsCols = Seq("v"))
    // fingerprint the surviving partitions' data bytes BEFORE retention
    import scala.jdk.CollectionConverters._
    def dataFiles(day: Int): Seq[java.nio.file.Path] = {
      val d = java.nio.file.Paths.get(root, "t", s"p=2024-01-0$day")
      java.nio.file.Files.list(d).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
    }
    def sig(day: Int) = dataFiles(day).map(p =>
      (p.getFileName.toString,
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(p))))
    val before = Seq(3, 4).map(sig)
    assert(wh.dropPeriodsBefore("t", "2024-01-03") === 2)
    assert(wh.periodValues("t") === Seq("2024-01-03", "2024-01-04"))
    assert(Seq(3, 4).map(sig) === before, "survivor partitions were rewritten")
    assert(wh.read("t").count() === 100)
    // manifest re-armed: the pruned read serves (and skips) post-retention
    val pruned = wh.readPruned("t", "v", 3000L, 3009L)
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ===
      (3000L to 3009L).toSeq)
    assert(pruned.inputFiles.length < wh.read("t").inputFiles.length,
      "stats manifest did not re-arm after retention")
    // idempotent: nothing below the cutoff remains
    assert(wh.dropPeriodsBefore("t", "2024-01-03") === 0)
    // a cutoff above EVERY period refuses instead of leaving an
    // unreadable empty layout (ADVICE r14) — and deletes nothing
    intercept[IllegalArgumentException](wh.dropPeriodsBefore("t", "2099-01-01"))
    assert(wh.periodValues("t") === Seq("2024-01-03", "2024-01-04"))
    assert(wh.read("t").count() === 100)
    // crash at the intent marker: a fresh Warehouse completes the deletion
    // on recover and consumes the marker
    val root2 = Scratch.tempDir("graft_rec_ret2").toString
    val wh2 = new Warehouse(root2, spark)
    wh2.writeSwap("t", rows.repartitionByRange(4, col("p"), col("v")),
      partitionBy = Seq("p"))
    crashAt(wh2, "retention:marker")
    intercept[Exception](wh2.dropPeriodsBefore("t", "2024-01-04"))
    val wh3 = new Warehouse(root2, spark)
    assert(wh3.periodValues("t") === Seq("2024-01-04"))
    assert(wh3.read("t").count() === 50)
    assert(wh3.getMeta("t__slice_intent").isEmpty, "marker must be consumed")
  }

  test("versioned writes: every crash point leaves a consistent version set; retry converges") {
    val root = Scratch.tempDir("graft_rec_ver").toString
    val wh = new Warehouse(root, spark)
    def df(n: Int) = (1 to n).map(i => (i.toLong, s"v$n")).toDF("k", "v")
    def state(w: Warehouse) = w.versionsOf("t").map(v =>
      v -> w.readVersioned("t", v).count()).toMap

    assert(wh.writeVersioned("t", df(10)) === 1L)
    assert(state(wh) === Map(1L -> 10L))

    // crash BEFORE the commit rename: the staged tmp is invisible — the
    // version set is unchanged and the current read serves v1 intact
    crashAt(wh, "versioned:staged")
    intercept[Exception](wh.writeVersioned("t", df(20)))
    wh.failpoint = _ => ()
    assert(state(wh) === Map(1L -> 10L))
    // retry on a fresh process: the leftover __tmp is swept, v2 lands
    val wh2 = new Warehouse(root, spark)
    assert(wh2.writeVersioned("t", df(20)) === 2L)
    assert(state(wh2) === Map(1L -> 10L, 2L -> 20L))

    // crash AFTER commit but BEFORE retention (keep=2 would drop v1):
    // v3 is durable, v1 merely lingers — the next retained write drops it
    crashAt(wh2, "versioned:committed")
    intercept[Exception](wh2.writeVersioned("t", df(30), keep = 2))
    wh2.failpoint = _ => ()
    assert(state(wh2) === Map(1L -> 10L, 2L -> 20L, 3L -> 30L))

    // crash MID-RETENTION after the atomic __drop rename: the half-dropped
    // version is NOT listed (never a partial dir posing as complete)
    crashAt(wh2, "versioned:drop-renamed")
    intercept[Exception](wh2.writeVersioned("t", df(40), keep = 2))
    wh2.failpoint = _ => ()
    assert(state(wh2) === Map(2L -> 20L, 3L -> 30L, 4L -> 40L))

    // clean retained write converges: exactly the newest 2 live
    val wh3 = new Warehouse(root, spark)
    assert(wh3.writeVersioned("t", df(50), keep = 2) === 5L)
    assert(state(wh3) === Map(4L -> 40L, 5L -> 50L))
    // a dropped version raises instead of serving the wrong snapshot
    val e = intercept[IllegalArgumentException](wh3.readVersioned("t", 3L))
    assert(e.getMessage.contains("no version 3"))
  }
}
