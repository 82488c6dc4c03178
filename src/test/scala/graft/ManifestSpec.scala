package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.Warehouse
import graft.queries.Scratch

/** The min/max data-skipping manifest (Warehouse.writeStatsManifest /
  * readPruned): file pruning on a range predicate over a clusterBy or
  * Z-order layout, result identity vs the plain filtered read, the
  * structural staleness fallback, and clone manifest propagation.
  */
class ManifestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fullFilter(wh: Warehouse, name: String, c: String, lo: Long,
      hi: Long): Set[(Long, Long)] =
    wh.read(name).filter(col(c) >= lo && col(c) <= hi)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("clusterBy + manifest: range read prunes files, result identical to full scan") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    // explicit 8-way range layout: AQE would coalesce a 1000-row
    // clusterBy shuffle into one file, leaving nothing to prune
    val df = (0L until 1000L).map(k => (k, k * 7L)).toDF("k", "x")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    wh.writeSwap("t", df, statsCols = Seq("k"))
    val total = wh.dataFileCount("t")
    assert(total >= 3L, s"need a multi-file layout to prove pruning: $total")
    // the PRODUCTION pruning decision: a narrow range keeps < total files
    val Some((kept, n)) = wh.statsPrunedFiles("t", "k", 100L, 199L)
    assert(n.toLong === total)
    assert(kept.nonEmpty && kept.size < n,
      s"range [100,199] kept ${kept.size} of $n files — no pruning")
    // result identity: pruned read == plain filtered read, row for row
    val got = wh.readPruned("t", "k", 100L, 199L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === fullFilter(wh, "t", "k", 100L, 199L))
    assert(got.size === 100)
    // a range the manifest PROVES empty folds to zero rows (and the
    // pruning decision keeps zero files)
    assert(wh.statsPrunedFiles("t", "k", 5000L, 6000L).exists(_._1.isEmpty))
    assert(wh.readPruned("t", "k", 5000L, 6000L).count() === 0L)
  }

  test("append makes the manifest stale: readPruned falls back to the FULL scan") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    wh.writeSwap("t", (0L until 100L).map(k => (k, k)).toDF("k", "x"),
      clusterBy = Seq("k"), statsCols = Seq("k"))
    assert(wh.statsPrunedFiles("t", "k", 0L, 10L).isDefined)
    // out-of-manifest rows land in range — a stale manifest that still
    // pruned would DROP them
    wh.append("t", Seq((5L, 999L)).toDF("k", "x"))
    assert(wh.statsPrunedFiles("t", "k", 0L, 10L).isEmpty, "stale manifest accepted")
    val got = wh.readPruned("t", "k", 0L, 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === fullFilter(wh, "t", "k", 0L, 10L))
    assert(got.contains((5L, 999L)))
    // re-manifesting after the append restores pruning
    wh.writeStatsManifest("t", Seq("k"))
    assert(wh.statsPrunedFiles("t", "k", 0L, 10L).isDefined)
    assert(wh.readPruned("t", "k", 0L, 10L).count() === 12L)
  }

  test("Z-order + manifest: a slab in the SECOND dimension prunes files") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    // 32x32 grid: Z-order interleaves a and b, so a b-slab is NOT the
    // linear sort order yet still lands in few Morton ranges
    val grid = for { a <- 0L until 32L; b <- 0L until 32L } yield (a, b)
    wh.writeSwap("z", grid.toDF("a", "b"))
    wh.rewriteZOrdered("z", "a", "b", numFiles = 16)
    wh.writeStatsManifest("z", Seq("a", "b"))
    val Some((kept, n)) = wh.statsPrunedFiles("z", "b", 0L, 3L)
    assert(n === 16)
    assert(kept.size < n, s"b-slab kept ${kept.size} of $n files — Z-order gave no locality")
    val got = wh.readPruned("z", "b", 0L, 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === fullFilter(wh, "z", "b", 0L, 3L))
    assert(got.size === 32 * 4)
  }

  test("clone carries the manifest (hard links: identical paths and sizes)") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    wh.writeSwap("src", (0L until 200L).map(k => (k, k)).toDF("k", "x")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      statsCols = Seq("k"))
    wh.cloneTable("src", "dst")
    val Some((kept, n)) = wh.statsPrunedFiles("dst", "k", 0L, 24L)
    assert(kept.size < n)
    assert(wh.readPruned("dst", "k", 0L, 24L).count() === 25L)
    // and a drop cleans the sidecar: a recreated table must not inherit it
    wh.drop("dst")
    wh.writeSwap("dst", Seq((1L, 1L)).toDF("k", "x"))
    assert(wh.statsPrunedFiles("dst", "k", 0L, 24L).isEmpty)
  }

  test("compact and Z-order rewrites auto-refresh the manifest; 2-d box prunes beyond either slab") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    val grid = for { a <- 0L until 32L; b <- 0L until 32L } yield (a, b)
    wh.writeSwap("z", grid.toDF("a", "b")
      .repartitionByRange(8, col("a")).sortWithinPartitions("a"),
      statsCols = Seq("a", "b"))
    assert(wh.statsPrunedFiles("z", "a", 0L, 3L).exists(p => p._1.size < p._2))
    // maintenance rewrite through the OPTIMIZE path: the manifest is
    // refreshed automatically from its recorded columns — reads never
    // silently downgrade to full scans after compaction
    wh.rewriteZOrdered("z", "a", "b", numFiles = 16)
    val Some((keptA, n)) = wh.statsPrunedFiles("z", "a", 0L, 7L)
    val Some((keptB, _)) = wh.statsPrunedFiles("z", "b", 0L, 7L)
    assert(n === 16 && keptA.size < n && keptB.size < n,
      s"post-zorder slabs kept ${keptA.size}/${keptB.size} of $n")
    // the BOX prunes multiplicatively: both predicates apply per file
    val Some((keptBox, _)) = wh.statsPrunedFiles("z",
      Seq(("a", 0L, 7L), ("b", 0L, 7L)))
    assert(keptBox.size < math.min(keptA.size, keptB.size),
      s"box kept ${keptBox.size}, slabs ${keptA.size}/${keptB.size}")
    val got = wh.readPrunedBox("z", Seq(("a", 0L, 7L), ("b", 0L, 7L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === grid.filter(p => p._1 <= 7 && p._2 <= 7).toSet)
    // plain compact() keeps it too (writeSwap-routed)
    wh.compact("z", rowsPerFile = 64L)
    assert(wh.statsPrunedFiles("z", "a", 0L, 3L).isDefined)
    assert(wh.readPruned("z", "a", 0L, 3L).count() === 4 * 32L)
  }

  test("NULLs in the stats column: kept-file semantics match the plain filter exactly") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    // file 1: mixed nulls (footer stats cover the non-null values);
    // file 2: ALL-null k (hasNonNullValue false -> no entry -> kept
    // conservatively); file 3: disjoint range (pruned)
    val f1 = Seq((Some(1L), 10L), (None, 11L), (Some(3L), 12L)).toDF("k", "x")
    val f2 = Seq((None: Option[Long], 20L), (None, 21L)).toDF("k", "x")
    val f3 = Seq((Some(100L), 30L)).toDF("k", "x")
    wh.writeSwap("t", f1.coalesce(1))
    wh.append("t", f2.coalesce(1))
    wh.append("t", f3.coalesce(1))
    wh.writeStatsManifest("t", Seq("k"))
    val Some((kept, n)) = wh.statsPrunedFiles("t", "k", 0L, 5L)
    assert(n === 3)
    assert(kept.size === 2, s"expect f1 (intersects) + f2 (no stats), got ${kept.size}")
    // NULL k never matches a range predicate — identical to read+filter
    val got = wh.readPruned("t", "k", 0L, 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L), (3L, 12L)))
  }

  test("non-integral and missing columns are unprunable, never wrong") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    val df = (0L until 100L).map(k => (k, s"s$k")).toDF("k", "s")
    wh.writeSwap("t", df, clusterBy = Seq("k"))
    wh.writeStatsManifest("t", Seq("k", "s"))
    // string column: stats ignored (no INT32/INT64 physical type) — every
    // file kept, result still exact
    val Some((keptS, nS)) = wh.statsPrunedFiles("t", "s", 0L, 1L)
    assert(keptS.size === nS)
    // a column never manifested behaves the same
    val Some((keptM, nM)) = wh.statsPrunedFiles("t", "nope", 0L, 1L)
    assert(keptM.size === nM)
    assert(wh.readPruned("t", "k", 10L, 19L).count() === 10L)
    // a DATE range column fails LOUDLY (its INT32 footer stats record
    // fine, but the long-literal predicate would ANSI-clash): callers
    // key ranges on epoch-day ints instead
    val dated = (0 until 10).map(i => (i.toLong, java.sql.Date.valueOf(f"2024-01-${i + 1}%02d")))
      .toDF("k", "d")
    wh.writeSwap("td", dated, statsCols = Seq("k", "d"))
    val e = intercept[IllegalArgumentException] {
      wh.readPruned("td", "d", 19723L, 19725L).count()
    }
    assert(e.getMessage.contains("quantize"), e.getMessage)
  }

  test("string stats: range and prefix reads prune files, results identical") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    // zero-padded keys: lexicographic order == numeric order, so the
    // range layout gives each file a tight string slab
    val df = (0L until 1000L).map(k => (f"s$k%04d", k)).toDF("s", "x")
      .repartitionByRange(8, col("s")).sortWithinPartitions("s")
    wh.writeSwap("t", df, statsCols = Seq("s"))
    val total = wh.dataFileCount("t")
    assert(total >= 3L)
    val Some((kept, n)) = wh.statsPrunedFilesTyped("t", Seq(wh.BytesRange("s",
      "s0100".getBytes("UTF-8"), Some("s0199".getBytes("UTF-8")))))
    assert(n.toLong === total && kept.nonEmpty && kept.size < n,
      s"string range kept ${kept.size} of $n files")
    val got = wh.readPrunedStrRange("t", "s", "s0100", "s0199")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === wh.read("t").filter(col("s") >= "s0100" && col("s") <= "s0199")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    assert(got.size === 100)
    // prefix read: same pruning, exact startsWith semantics
    val gotP = wh.readPrunedPrefix("t", "s", "s01")
      .collect().map(r => r.getLong(1)).toSet
    assert(gotP === (100L until 200L).toSet)
    // a prefix the manifest PROVES absent folds to zero files, zero rows
    assert(wh.statsPrunedFilesTyped("t", Seq(wh.BytesRange("s",
      "zz".getBytes("UTF-8"), Some("zz~".getBytes("UTF-8"))))).exists(_._1.isEmpty))
    assert(wh.readPrunedPrefix("t", "s", "zz").count() === 0L)
    // integral guard mirror: a string pruned read on an int column is loud
    val e = intercept[IllegalArgumentException] {
      wh.readPrunedPrefix("t", "x", "1").count()
    }
    assert(e.getMessage.contains("string"), e.getMessage)
  }

  test("string bounds past 32 bytes truncate conservatively, never wrong") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    val pad = "P" * 40 // every long value shares a 40-byte prefix
    val longs = (0L until 100L).map(k => (pad + f"$k%04d", k)).toDF("s", "x")
    val shorts = (0L until 100L).map(k => (f"a$k%04d", k + 1000L)).toDF("s", "x")
    wh.writeSwap("t", shorts.coalesce(1))
    wh.append("t", longs.coalesce(1))
    wh.writeStatsManifest("t", Seq("s"))
    // the long file's bounds truncate to P*32 (min) / P*31+Q (max) — a
    // range inside the shared prefix can't prune IT (truncation destroyed
    // selectivity) but still prunes the short file, and results stay exact
    val lo = pad + "0010"; val hi = pad + "0019"
    val Some((kept, n)) = wh.statsPrunedFilesTyped("t",
      Seq(wh.BytesRange("s", lo.getBytes("UTF-8"), Some(hi.getBytes("UTF-8")))))
    assert(n === 2 && kept.size === 1, s"kept ${kept.size} of $n")
    assert(wh.readPrunedStrRange("t", "s", lo, hi).count() === 10L)
    // and an 'a'-prefix read prunes the long file the same way
    val Some((keptA, _)) = wh.statsPrunedFilesTyped("t", Seq(wh.BytesRange("s",
      "a".getBytes("UTF-8"), Some("b".getBytes("UTF-8")))))
    assert(keptA.size === 1)
    assert(wh.readPrunedPrefix("t", "s", "a000").count() === 10L)
  }

  test("bloom: point lookup in a hash layout prunes where min/max cannot") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    // hash shuffle: every file spans the whole key range — the min/max
    // manifest is structurally useless here, the bloom is not
    val df = (0L until 4096L).map(k => (k, k * 3L)).toDF("k", "x")
      .repartition(8, col("k"))
    wh.writeSwap("t", df, statsCols = Seq("k"), bloomCols = Seq("k"))
    val total = wh.dataFileCount("t")
    assert(total === 8L)
    val Some((keptStats, _)) = wh.statsPrunedFiles("t", "k", 77L, 77L)
    assert(keptStats.size.toLong === total,
      s"min/max should keep ALL ${total} files in a hash layout, kept ${keptStats.size}")
    val Some((keptBloom, n)) = wh.bloomPrunedFiles("t", "k", Seq(77L))
    assert(n.toLong === total && keptBloom.size < n,
      s"bloom kept ${keptBloom.size} of $n files — no pruning")
    val got = wh.readPrunedEq("t", "k", 77L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((77L, 231L)))
    // an absent key reads zero rows (false positives only ever KEEP files)
    assert(wh.readPrunedEq("t", "k", 999999L).count() === 0L)
  }

  test("bloom: readPrunedIn unions probe sets; result identical to isin") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    val df = (0L until 4096L).map(k => (k, k)).toDF("k", "x")
      .repartition(8, col("k"))
    wh.writeSwap("t", df, bloomCols = Seq("k"))
    val keys = Seq(5L, 77L, 3000L)
    val Some((kept, n)) = wh.bloomPrunedFiles("t", "k", keys)
    assert(kept.size < n, s"3-key probe kept ${kept.size} of $n")
    val got = wh.readPrunedIn("t", "k", keys).collect().map(_.getLong(0)).toSet
    assert(got === keys.toSet)
  }

  test("bloom: append staleness, rebuild, compact auto-refresh, partitioned keep") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    val df = (0L until 1024L).map(k => (k, k)).toDF("k", "x")
      .repartition(4, col("k"))
    wh.writeSwap("t", df, bloomCols = Seq("k"))
    assert(wh.bloomPrunedFiles("t", "k", Seq(77L)).isDefined)
    // a duplicate key lands OUTSIDE the manifest: stale -> full scan
    wh.append("t", Seq((77L, -1L)).toDF("k", "x"))
    assert(wh.bloomPrunedFiles("t", "k", Seq(77L)).isEmpty, "stale bloom accepted")
    assert(wh.readPrunedEq("t", "k", 77L).count() === 2L)
    // manual rebuild restores pruning over the appended layout
    wh.writeBloomManifest("t", Seq("k"))
    assert(wh.bloomPrunedFiles("t", "k", Seq(77L)).exists(_._1.size >= 2))
    assert(wh.readPrunedEq("t", "k", 77L).count() === 2L)
    // maintenance rewrite through writeSwap auto-refreshes from recorded params
    wh.compact("t", rowsPerFile = 256L)
    assert(wh.bloomPrunedFiles("t", "k", Seq(77L)).isDefined)
    assert(wh.readPrunedEq("t", "k", 77L).count() === 2L)
    // a rewrite INTO a partitioned layout KEEPS the bloom (the sidecar
    // serves non-partition columns; partition keys prune by directory) —
    // files are keyed by path, so the colliding basenames partitionBy
    // writers produce across dirs stay distinct
    wh.writeSwap("t", wh.read("t").withColumn("p", col("k") % 2L),
      partitionBy = Seq("p"))
    assert(wh.bloomPrunedFiles("t", "k", Seq(77L)).exists(r => r._1.size < r._2))
    val gotP = wh.readPrunedEq("t", "k", 77L).collect()
    assert(gotP.length === 2 &&
      gotP.forall(r => r.getAs[Long]("p") === 1L), // partition col survives
      gotP.mkString(","))
  }

  test("combined pruning: bloom AND stats evidence intersect on equality reads") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    // range-clustered EVEN keys with both sidecars: stats prove the one
    // covering file, the bloom proves membership inside it
    val df = (0L until 2048L).map(k => (k * 2L, k)).toDF("k", "x")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    wh.writeSwap("t", df, statsCols = Seq("k"), bloomCols = Seq("k"))
    // a PRESENT key: stats keep 1 covering file, intersection stays 1
    val Some((bloomKept, n)) = wh.bloomPrunedFiles("t", "k", Seq(100L))
    val Some((statsKept, _)) = wh.statsPrunedFiles("t", "k", 100L, 100L)
    assert(statsKept.size === 1, s"stats kept ${statsKept.size} of $n")
    assert(bloomKept.toSet.intersect(statsKept.toSet).size === 1 && n === 8)
    assert(wh.readPrunedEq("t", "k", 100L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((100L, 50L)))
    // an ABSENT odd key IN range: stats alone keep its covering file,
    // the bloom proves absence -> the combined read touches ZERO files
    // (readPrunedIn folds to the empty relation) while staying exact
    val odd = wh.readPrunedEq("t", "k", 101L)
    assert(odd.count() === 0L)
    assert(odd.inputFiles.isEmpty,
      s"absent-key read listed files: ${odd.inputFiles.mkString(",")}")
    // stats-only table (no bloom): readPrunedIn still prunes by bounds
    wh.writeSwap("t2", df, statsCols = Seq("k"))
    assert(wh.bloomPrunedFiles("t2", "k", Seq(100L)).isEmpty)
    assert(wh.readPrunedEq("t2", "k", 100L).count() === 1L)
    assert(wh.readPrunedEq("t2", "k", 100L).inputFiles.length < 8)
  }

  test("refresh manifests: growth re-arms at O(new files), untouched entries verbatim") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    val df = (0L until 1024L).map(k => (k, k)).toDF("k", "x")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    wh.writeSwap("t", df, statsCols = Seq("k"), bloomCols = Seq("k"))
    val statsBefore = wh.getMeta("t__stats").get
    val bloomBefore = wh.getMeta("t__bloom").get
    // append a batch: both manifests go structurally stale
    wh.append("t", Seq((5000L, 1L), (5001L, 2L)).toDF("k", "x").coalesce(1))
    assert(wh.statsPrunedFiles("t", "k", 0L, 10L).isEmpty)
    assert(wh.bloomPrunedFiles("t", "k", Seq(5L)).isEmpty)
    // the incremental refresh reads ONLY the new file's footer / hashes
    // only the new file — 4 prior lines reused verbatim
    val (sRead, sReused) = wh.refreshStatsManifest("t")
    val (bRead, bReused) = wh.refreshBloomManifest("t")
    assert((sRead, sReused) === ((1, 4)), s"stats refresh $sRead/$sReused")
    assert((bRead, bReused) === ((1, 4)), s"bloom refresh $bRead/$bReused")
    val statsAfter = wh.getMeta("t__stats").get
    val bloomAfter = wh.getMeta("t__bloom").get
    assert(statsBefore.split("\n").drop(1).forall(statsAfter.contains),
      "prior stats lines must survive verbatim")
    assert(bloomBefore.split("\n").drop(2).forall(bloomAfter.contains),
      "prior bloom lines must survive verbatim")
    // and BOTH pruning axes are re-armed, including over the new rows
    assert(wh.statsPrunedFiles("t", "k", 0L, 10L).exists(r => r._1.size < r._2))
    assert(wh.readPruned("t", "k", 4999L, 5000L).count() === 1L)
    assert(wh.readPrunedEq("t", "k", 5001L).count() === 1L)
    assert(wh.readPrunedEq("t", "k", 5L).count() === 1L)
  }

  test("readPeriodRangePruned: directory and file pruning compose") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    // a period-partitioned layout (one dir per day) whose rows carry a
    // sorted value column: the window prunes dirs, the manifest prunes
    // files INSIDE the window
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04")
    val df = days.zipWithIndex.flatMap { case (d, i) =>
      (0L until 256L).map(v => (d, i * 1000L + v, v))
    }.toDF("p", "cents", "x")
      .repartitionByRange(8, col("p"), col("cents"))
      .sortWithinPartitions("p", "cents")
    wh.writeSwap("t", df, partitionBy = Seq("p"), statsCols = Seq("cents"))
    // window = days 2-3, range = day 2's values only
    val got = wh.readPeriodRangePruned("t", "2024-01-02", "2024-01-03",
      Seq(("cents", 1000L, 1100L)))
    assert(got.count() === 101L)
    // every input file sits under an in-window period dir AND intersects
    // the range by its recorded bounds
    assert(got.inputFiles.nonEmpty && got.inputFiles.forall(f =>
      f.contains("p=2024-01-02") || f.contains("p=2024-01-03")),
      got.inputFiles.mkString(","))
    // the day-3 dir holds cents >= 2000 only: the manifest drops all its
    // files, so the read touches day 2 alone — dir pruning alone could not
    assert(got.inputFiles.forall(_.contains("p=2024-01-02")),
      s"file skipping inside the window failed: ${got.inputFiles.mkString(",")}")
    // identity vs the unpruned window read
    val want = wh.readPeriodRange("t", "2024-01-02", "2024-01-03")
      .filter(col("cents") >= 1000L && col("cents") <= 1100L)
    assert(got.collect().map(_.toString).sorted.toSeq ===
      want.collect().map(_.toString).sorted.toSeq)
    // a proven-empty range folds to zero files
    assert(wh.readPeriodRangePruned("t", "2024-01-02", "2024-01-03",
      Seq(("cents", 900000L, 900001L))).count() === 0L)
  }

  test("bloom: clone carries the sidecar; drop cleans it; string keys work") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    val df = (0L until 2048L).map(k => (s"u$k", k)).toDF("u", "x")
      .repartition(8, col("u"))
    wh.writeSwap("src", df, bloomCols = Seq("u"))
    val Some((kept, n)) = wh.bloomPrunedFiles("src", "u", Seq("u123"))
    assert(kept.size < n)
    assert(wh.readPrunedEq("src", "u", "u123").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet === Set(("u123", 123L)))
    wh.cloneTable("src", "dst")
    assert(wh.bloomPrunedFiles("dst", "u", Seq("u123")).exists(_._1.size < n))
    assert(wh.readPrunedEq("dst", "u", "u123").count() === 1L)
    wh.drop("dst")
    wh.writeSwap("dst", Seq(("u123", 1L)).toDF("u", "x"))
    assert(wh.bloomPrunedFiles("dst", "u", Seq("u123")).isEmpty)
  }

  test("refreshStatsManifest on a pre-v2 sidecar rebuilds instead of relabeling (ADVICE r13)") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    wh.writeSwap("t", (0L until 1000L).map(k => (k, k * 3L)).toDF("k", "x")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      statsCols = Seq("k"))
    // forge the legacy format: same (path, size) identities, v1 header,
    // `c=mn:mx` entries — the shape the pre-diff code wrote. The old
    // refresh reused these lines verbatim under a v2 header, and every
    // later pruned read then THREW in parseColStats instead of declining.
    val legacy = wh.getMeta("t__stats").get.split("\n", -1).drop(1)
      .filter(_.nonEmpty).map { ln =>
        val p = ln.split("\t", -1)
        (Seq(p(0), p(1)) ++ p.drop(2).map { e =>
          val c = e.split("=", 2)(0)
          s"$c=0:999"
        }).mkString("\t")
      }
    wh.putMeta("t__stats", ("v1" +: legacy.toSeq).mkString("\n"))
    // refresh must pay the full rebuild (0 lines reused), not merge
    val (read, reused) = wh.refreshStatsManifest("t")
    assert(reused === 0, s"reused $reused v1 lines under a v2 header")
    assert(read > 0)
    // and the rebuilt manifest serves pruned reads again
    assert(wh.statsPrunedFiles("t", "k", 100L, 199L).isDefined)
    assert(wh.readPruned("t", "k", 100L, 199L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      fullFilter(wh, "t", "k", 100L, 199L))
  }

  test("bloom build survives a percent-encoding warehouse path (ADVICE r13)") {
    // a space in the root percent-encodes in input_file_name(): the old
    // inner join keyed on the raw path dropped every row — all-zero
    // filters that pruned files which DO hold the key (silent missing
    // rows). The decoded join + loud null-m guard must keep this exact.
    val root = Scratch.tempDir("graft wh enc").toString
    assert(root.contains(" "))
    val wh = new Warehouse(root, spark)
    val df = (0L until 2048L).map(k => (s"u$k", k)).toDF("u", "x")
      .repartition(8, col("u"))
    wh.writeSwap("src", df, bloomCols = Seq("u"))
    val Some((kept, n)) = wh.bloomPrunedFiles("src", "u", Seq("u123"))
    assert(kept.nonEmpty, "all-zero bloom filters: the key's file was pruned")
    assert(kept.size < n, "no pruning at all — filters degenerate")
    assert(wh.readPrunedEq("src", "u", "u123").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet === Set(("u123", 123L)))
  }

  test("readPrunedSemi: dim-driven file pruning, identity, over-cap fallback, NULL and empty dims") {
    val root = Scratch.tempDir("graft_wh").toString
    val wh = new Warehouse(root, spark)
    val fact = (0L until 4096L).map(k => (k, k * 2L)).toDF("k", "x")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    wh.writeSwap("f", fact, statsCols = Seq("k"), bloomCols = Seq("k"))
    assert(wh.dataFileCount("f") === 8L)
    // 3 surviving dim keys live in 2 of the 8 range files: the routed
    // read must list ONLY those
    val dim = Seq((5L, "a"), (7L, "b"), (3999L, "c")).toDF("dk", "pad")
    val got = wh.readPrunedSemi("f", "k", dim, "dk", maxKeys = 10)
    assert(got.inputFiles.nonEmpty && got.inputFiles.length <= 2,
      s"expected <=2 kept files, read ${got.inputFiles.length}")
    val expected = wh.read("f")
      .join(dim.select(col("dk").as("k")), Seq("k"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === expected && expected.size === 3)
    // a build side wider than the cap degrades to the full-scan semi
    // join — row-identical, no raise (file pruning buys nothing there)
    val wide = (0L until 64L).toDF("dk")
    val fb = wh.readPrunedSemi("f", "k", wide, "dk", maxKeys = 10)
    assert(fb.count() === 64L)
    // NULL keys never match an equi-join: dropped before the bound
    val withNull = Seq(Some(5L), None).toDF("dk")
    assert(wh.readPrunedSemi("f", "k", withNull, "dk", maxKeys = 10)
      .count() === 1L)
    // an empty build side reads zero rows AND zero files
    val e = wh.readPrunedSemi("f", "k",
      Seq.empty[Long].toDF("dk"), "dk", maxKeys = 10)
    assert(e.count() === 0L)
    assert(e.inputFiles.isEmpty,
      s"empty-dim read listed files: ${e.inputFiles.mkString(",")}")
  }
}
