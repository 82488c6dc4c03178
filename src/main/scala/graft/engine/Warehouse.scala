package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.engine.Pin.PinOps

/** Parquet-dir warehouse with the reference's backup/swap replace protocol
  * (dbt-adapters/macros/materializations/models/table.sql:5-22 and the
  * incremental full-refresh path incremental.sql:83-87): write the new data to
  * an intermediate location, swap it in, keep the old data until the swap
  * completes. Spark has no multi-table transaction (SURVEY §4) — an atomic
  * directory rename is the strongest single-table guarantee available and is
  * exactly what the reference's rename dance provides.
  *
  * No Delta in this environment (SURVEY §7.4.1), so MERGE-family operators
  * rewrite via this swap path.
  */
final class Warehouse(val root: String, spark: SparkSession) {
  Files.createDirectories(Paths.get(root))

  private def dir(name: String): Path = Paths.get(root, name)

  /** Test-only crash injection: the swap protocols invoke this at named
    * commit points so specs can simulate a process dying between protocol
    * steps (kill-window coverage for every recovery path). Production never
    * installs a hook — the default is a no-op called once per commit STEP,
    * never per row.
    */
  private[graft] var failpoint: String => Unit = _ => ()

  /** getMeta probe counter — observability for the marker-absence cache
    * below (specs assert the hot read path stops probing).
    */
  private[graft] val metaProbes = new java.util.concurrent.atomic.AtomicLong

  /** Names whose slice-intent marker is known ABSENT. recover() runs on
    * every read/exists, and on an object store each marker probe is a
    * round-trip — the common no-interrupted-swap case must not pay it per
    * read. Entries are invalidated by the only marker writer
    * (overwritePeriods). Like the read cache, this assumes the single-owner
    * contract: THIS Warehouse performs every write under its root.
    *
    * `sliceLock` serializes cache-check+probe+replay against the writer's
    * invalidate+marker-write pair: without it a reader probing between the
    * writer's cache-remove and its putMeta would re-cache "absent", and if
    * the writer then died mid-commit every later read in this JVM would
    * skip the replay and serve the half-swapped layout. Driver-side
    * metadata-rate operations only — never held around a Spark action.
    */
  private val sliceMarkerAbsent =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val sliceLock = new Object

  /** Crash recovery for the swap window: a process that died between
    * `target -> backup` and `tmp -> target` leaves the backup as the ONLY
    * complete copy (the reference's rename dance has the same window and
    * relies on warehouse transactionality we don't have). On the next open,
    * restore the backup and discard the possibly-incomplete tmp — the failed
    * write simply never happened.
    */
  private def recover(name: String): Unit = {
    // a drop() that died mid-deletion left a drop-intent marker — finish
    // the drop FIRST: a half-dropped table (checkpoint gone, table present)
    // must never be restored or read as live. Checked before the backup
    // restore below so a dropped table's leftover backup cannot resurrect.
    completeDrop(name)
    val target = dir(name)
    val backup = dir(name + "__backup")
    if (!Files.exists(target) && Files.exists(backup)) {
      Files.move(backup, target, StandardCopyOption.ATOMIC_MOVE)
      deleteRec(dir(name + "__tmp"))
    }
    // a slice swap (overwritePeriods) that died mid-commit left an intent
    // marker — finish it before anyone reads the half-swapped layout
    completeSliceSwap(name)
  }

  /** Names whose drop-intent marker is known ABSENT — same per-read probe
    * economics (and the same writer-side lock discipline) as
    * [[sliceMarkerAbsent]].
    */
  private val dropMarkerAbsent =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def completeDrop(name: String): Unit = sliceLock.synchronized {
    if (!dropMarkerAbsent.contains(name)) getMeta(name + "__drop_intent") match {
      case None => dropMarkerAbsent.add(name); ()
      case Some(_) => dropBody(name)
    }
  }

  /** Complete (or resume) a staged slice swap recorded by the intent marker:
    * for every enumerated partition value, a STAGED dir still in the tmp area
    * replaces the target dir; a staged dir already gone was moved in by the
    * crashed attempt (keep the target); an enumerated value with NO staged
    * dir means the slice is empty there (the target dir is deleted). Runs
    * only when the marker exists, so the per-read cost is one file probe.
    */
  private def completeSliceSwap(name: String): Unit = sliceLock.synchronized {
    if (!sliceMarkerAbsent.contains(name)) getMeta(name + "__slice_intent") match {
      case None =>
        sliceMarkerAbsent.add(name); ()
      case Some(m) =>
        val lines = m.split("\n", -1)
        val (partCol, enumerated, staged) =
          (lines(0), lines(1).split(",").filter(_.nonEmpty).toSeq,
            lines(2).split(",").filter(_.nonEmpty).toSet)
        val tmp = dir(name + "__slice_tmp")
        enumerated.foreach { v =>
          val dirName = s"$partCol=$v"
          val st = tmp.resolve(dirName)
          if (staged.contains(dirName)) {
            if (Files.exists(st)) {
              deleteRec(dir(name).resolve(dirName))
              Files.move(st, dir(name).resolve(dirName), StandardCopyOption.ATOMIC_MOVE)
            } // else: already moved by the attempt that wrote the marker
          } else deleteRec(dir(name).resolve(dirName))
          failpoint(s"slice:applied:$dirName")
        }
        deleteRec(tmp)
        failpoint("slice:cleaned")
        Files.deleteIfExists(dir(name + "__slice_intent__meta"))
        sliceMarkerAbsent.add(name)
        invalidate(name)
    }
  }

  def exists(name: String): Boolean = { recover(name); Files.exists(dir(name)) }

  /** Columns with this prefix are engine-internal physical-layout columns
    * (e.g. the microbatch period partition); `read` strips them so the
    * logical relation is exactly what the model produced.
    */
  val enginePrefix = "__graft_"

  /** Reads are cached per table and invalidated by every write through this
    * Warehouse (which owns all writes to its root): `spark.read.parquet`
    * builds a fresh file index per call, and partition-discovery listings
    * are a real per-call tax — multi-read lifecycles (incremental runs,
    * snapshot rebuilds) would otherwise re-list the same directories many
    * times per run. On object stores at corpus scale each listing is a
    * round-trip storm.
    */
  private val readCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  private def invalidate(name: String): Unit = readCache.remove(name)

  def read(name: String): DataFrame = {
    recover(name)
    readCache.getOrElseUpdate(name, {
      val df = spark.read.parquet(dir(name).toString)
      df.drop(df.columns.filter(_.startsWith(enginePrefix)).toSeq: _*)
    })
  }

  /** CTAS / full overwrite with swap (S4+S5). `clusterBy` reproduces the
    * Snowflake `cluster_by` semantics (relations/table/create.sql:78-139):
    * range-partition + sort within partitions so min/max file stats enable
    * scan pruning on the cluster keys.
    *
    * `statsCols`: also write the [[writeStatsManifest]] data-skipping
    * sidecar for these columns after the swap — the natural companion of
    * `clusterBy`, whose sort makes the per-file ranges selective. On
    * partitioned layouts the manifest serves the NON-partition columns
    * (directory pruning already serves the partition key), composing
    * multiplicatively with [[readPeriodRange]]-style window reads.
    */
  def writeSwap(name: String, df: DataFrame, clusterBy: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    // recover FIRST: in the backup-only crash state the backup is the sole
    // complete copy, and the deleteRec(backup) below would destroy it
    // before the new data is safely staged — a second failure then loses
    // everything. Restoring first makes the old state an ordinary target.
    recover(name)
    // a table that OPTED INTO a manifest keeps it across rewrites
    // (compact / rewriteZOrdered / plain overwrite route through here):
    // capture the recorded column set before the sidecar goes stale, so
    // maintenance never silently downgrades reads to full scans. Appends
    // deliberately skip this (O(batch) hot path — the stale manifest
    // falls back safely until the next rewrite or manual refresh).
    val priorStatsCols =
      if (statsCols.nonEmpty) statsCols else manifestCols(name)
    val priorBloom: Option[(Seq[String], Int, Int)] =
      if (bloomCols.nonEmpty) Some((bloomCols, 10, 7))
      else bloomManifestParams(name)
    val out = if (clusterBy.nonEmpty)
      df.repartitionByRange(clusterBy.map(col): _*).sortWithinPartitions(clusterBy.map(col): _*)
    else df

    val tmp     = dir(name + "__tmp")
    val target  = dir(name)
    val backup  = dir(name + "__backup")
    deleteRec(tmp); deleteRec(backup)
    val writer = out.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(tmp.toString)
    failpoint("swap:staged")
    if (Files.exists(target)) {
      Files.move(target, backup, StandardCopyOption.ATOMIC_MOVE)
      failpoint("swap:backed-up")
    }
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    failpoint("swap:swapped")
    deleteRec(backup)
    invalidate(name)
    // AFTER the swap commit: the manifest is a pure optimization sidecar
    // — a crash between swap and manifest leaves a manifest-less (full
    // scan) table, never a wrong one; a stale PREVIOUS manifest is
    // rejected by readPruned's listing check even in that window
    // partitioned layouts keep their manifests too (the sidecars serve
    // NON-partition columns; partition keys prune by directory): a
    // maintenance rewrite must never downgrade either pruning axis
    if (priorStatsCols.nonEmpty) { writeStatsManifest(name, priorStatsCols); () }
    priorBloom.foreach { case (cs, bpk, k) =>
      writeBloomManifest(name, cs, bpk, k); ()
    }
  }

  /** Column set recorded in the current manifest sidecar (empty when
    * none) — the auto-refresh source for [[writeSwap]]-routed rewrites.
    */
  private def manifestCols(name: String): Seq[String] =
    getMeta(name + "__stats").toSeq.flatMap { m =>
      m.split("\n", -1).drop(1).toSeq.filter(_.nonEmpty).flatMap { ln =>
        ln.split("\t", -1).drop(2).toSeq.map(e => e.split("=", 2)(0))
      }
    }.distinct.sorted

  /** Partition-dir slice replacement (the microbatch physical path): drop the
    * ENUMERATED period partitions, then land the batch's files under their
    * period dirs. Exactly dbt's DELETE-slice + INSERT-batch, with I/O bounded
    * by the slice — the rest of the target is never read or rewritten. An
    * in-window period with no batch rows ends EMPTY (deleted, nothing
    * appended), which dynamic partition overwrite alone would miss. Reruns of
    * the same window are idempotent (same deletes, same rows).
    */
  def overwritePeriods(name: String, batch: DataFrame, partCol: String,
      periodValues: Seq[String]): Unit = {
    recover(name)
    // stage the slice to a tmp dir BEFORE deleting: a lazy plan may still
    // scan this very target (a model referencing its existing state), and
    // evaluating it after the deletes would hit dead files — or fail
    // mid-write having already destroyed the window's old data. The staged
    // period dirs then take their place by rename (no second
    // materialization); a rerun of the same window is idempotent.
    val tmp = dir(name + "__slice_tmp")
    deleteRec(tmp)
    batch.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(tmp.toString)
    val staged = listDir(tmp)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(s"$partCol="))
      .map(_.getFileName.toString)
    val enumeratedDirs = periodValues.map(v => s"$partCol=$v").toSet
    require(staged.forall(enumeratedDirs.contains),
      s"slice rows outside the enumerated periods: ${staged.filterNot(enumeratedDirs.contains)}")
    failpoint("slice:staged")
    // intent marker AFTER staging, BEFORE any delete: a crash anywhere in
    // the commit below is finished by completeSliceSwap on the next open —
    // the marker records which period dirs are replaced vs emptied, so
    // recovery never re-deletes a dir whose staged replacement already
    // moved in
    sliceLock.synchronized {
      sliceMarkerAbsent.remove(name)
      putMeta(name + "__slice_intent",
        s"$partCol\n${periodValues.mkString(",")}\n${staged.mkString(",")}")
    }
    failpoint("slice:marker")
    completeSliceSwap(name)
  }

  /** Directory-pruned range read of a period-partitioned table (the
    * microbatch layout [[overwritePeriods]] maintains): only partition
    * dirs whose period VALUE falls in [from, to] are listed and read —
    * the rest of the table contributes zero I/O, not even a file
    * listing. This is the window-view read path of the rolling-baseline
    * monitors (q453): eviction is literally "the directory is never
    * touched". Period strings compare lexicographically, which IS
    * chronological order for every [[graft.engine.Registry]] grain
    * pattern (zero-padded ISO date/hour/month/year). Semantically
    * identical to `read(name)` filtered to those periods, because
    * [[overwritePeriods]]/the microbatch writer guarantee each dir holds
    * exactly its period's rows. Engine-internal columns (including the
    * period key itself, which lives in the dir NAME) are stripped like
    * every logical read. An empty range folds to an empty relation with
    * the table's schema.
    */
  /** Period values present in a period-partitioned table, sorted — ONE
    * directory listing, no Spark job: the monitor's "what period is
    * current" probe (a max() over the stored relation would launch a
    * scan for what the layout already knows).
    */
  def periodValues(name: String): Seq[String] = {
    recover(name)
    listDir(dir(name)).filter(p =>
      Files.isDirectory(p) && p.getFileName.toString.contains("="))
      .map(_.getFileName.toString.split("=", 2)(1)).sorted
  }

  def readPeriodRange(name: String, from: String, to: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(from <= to, s"period range: [$from, $to]")
    recover(name)
    val partDirs = listDir(dir(name)).filter(p =>
      Files.isDirectory(p) && p.getFileName.toString.contains("="))
    require(partDirs.nonEmpty, s"'$name' has no partition-dir layout")
    val partCols = partDirs.map(_.getFileName.toString.split("=", 2)(0)).distinct
    require(partCols.size == 1,
      s"'$name' carries multiple partition columns: $partCols")
    val kept = partDirs.filter { p =>
      val v = p.getFileName.toString.split("=", 2)(1)
      v >= from && v <= to
    }
    if (kept.isEmpty) read(name).filter(lit(false))
    else {
      // leaf dirs are passed explicitly: Spark treats each as a root, so
      // no partition discovery runs and nothing outside [from, to] is
      // ever listed
      val raw = spark.read.parquet(kept.map(_.toString): _*)
      raw.drop(raw.columns.filter(_.startsWith(enginePrefix)).toSeq: _*)
    }
  }

  /** Doubly-pruned window read — BOTH scan-pruning axes composed: the
    * period range prunes by DIRECTORY (out-of-window periods contribute
    * zero I/O, [[readPeriodRange]]'s contract) and the value predicates
    * prune FILES inside the window through the stats manifest
    * ([[readPruned]]'s contract) — the read path of a rolling monitor
    * asking a range question ("this week's rows with cents in
    * [lo, hi]") over the microbatch layout. Semantically identical to
    * `readPeriodRange(from, to).filter(AND_i col_i between lo_i, hi_i)`:
    * a declined manifest degrades to directory pruning alone, never a
    * wrong answer; the row predicate applies in every case.
    */
  def readPeriodRangePruned(name: String, from: String, to: String,
      preds: Seq[(String, Long, Long)]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(from <= to, s"period range: [$from, $to]")
    preds.foreach { case (c, lo, hi) => require(lo <= hi, s"range $c: [$lo, $hi]") }
    recover(name)
    val partDirs = listDir(dir(name)).filter(p =>
      Files.isDirectory(p) && p.getFileName.toString.contains("="))
    require(partDirs.nonEmpty, s"'$name' has no partition-dir layout")
    def pred(df: DataFrame) = preds.foldLeft(df) { case (d, (c, lo, hi)) =>
      d.schema.fields.find(_.name == c).foreach { f =>
        require(Seq("byte", "short", "integer", "long")
          .contains(f.dataType.typeName),
          s"readPeriodRangePruned range column '$c' is ${f.dataType.typeName}" +
            " — quantize to an integral column first (epoch days / cents)")
      }
      d.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
    }
    val partCols = partDirs.map(_.getFileName.toString.split("=", 2)(0)).distinct
    require(partCols.size == 1,
      s"'$name' carries multiple partition columns: $partCols")
    val inWindow = partDirs.filter { p =>
      val v = p.getFileName.toString.split("=", 2)(1)
      v >= from && v <= to
    }.map(p => dir(name).relativize(p).toString + "/").toSet
    statsPrunedFilesTyped(name,
        preds.map { case (c, lo, hi) => IntRange(c, lo, hi) }) match {
      case Some((kept, n)) =>
        val windowKept = kept.filter(p =>
          inWindow.exists(w => dir(name).relativize(p).toString.startsWith(w)))
        // the period key lives in the directory NAMES and is stripped
        // like every window read (readPeriodRange's schema contract)
        prunedRead(Some((windowKept, n)), name, pred).drop(partCols.head)
      case None => pred(readPeriodRange(name, from, to))
    }
  }

  /** RETENTION for the period layout — the missing half of the rolling
    * window: [[readPeriodRange]] makes eviction free for READERS (the
    * directory is never touched), but nothing ever reclaimed the space —
    * at 100 TB a per-day layout grows forever. Deletes every partition
    * dir whose period value sorts strictly below `cutoff` (the same
    * lexicographic-ISO ordering every window read uses) and returns how
    * many periods dropped.
    *
    * Crash safety is the slice-swap machinery VERBATIM: retention is an
    * [[overwritePeriods]] commit with an EMPTY stage — the intent marker
    * enumerates the victim periods with nothing staged, so
    * `completeSliceSwap` (here, or on the next open after a crash
    * mid-deletion) deletes each enumerated dir and clears the marker;
    * re-runs are idempotent and a partially-deleted period can never be
    * read (the marker outlives the crash). No Spark job anywhere —
    * driver-side directory work only. Data-skipping sidecars re-arm at
    * O(vanished lines) via the incremental refreshes (stale sidecars
    * would only decline to prune, but a retention pass is exactly when
    * the file set shrinks).
    */
  def dropPeriodsBefore(name: String, cutoff: String): Int = {
    recover(name)
    val partDirs = listDir(dir(name)).filter(p =>
      Files.isDirectory(p) && p.getFileName.toString.contains("="))
    require(partDirs.nonEmpty, s"'$name' has no partition-dir layout")
    val partCols = partDirs.map(_.getFileName.toString.split("=", 2)(0)).distinct
    require(partCols.size == 1,
      s"'$name' carries multiple partition columns: $partCols")
    val victims = partDirs.map(_.getFileName.toString.split("=", 2)(1))
      .filter(_ < cutoff).sorted
    // retention never deletes the FINAL surviving period: an emptied
    // table dir has no parquet files and no schema, so a later read()
    // cannot load it and the next retention call would throw the
    // layout require above instead of returning 0 (ADVICE r14). A
    // cutoff above every period is a drop-the-table intent — say so.
    require(victims.size < partDirs.size,
      s"dropPeriodsBefore('$name', '$cutoff') would delete every period " +
        s"(${victims.size} of ${partDirs.size}) and leave an unreadable " +
        "empty layout — retention keeps at least one period; use drop() " +
        "to remove the table")
    if (victims.isEmpty) 0
    else {
      deleteRec(dir(name + "__slice_tmp"))
      sliceLock.synchronized {
        sliceMarkerAbsent.remove(name)
        putMeta(name + "__slice_intent",
          s"${partCols.head}\n${victims.mkString(",")}\n")
      }
      failpoint("retention:marker")
      completeSliceSwap(name)
      if (manifestCols(name).nonEmpty) refreshStatsManifest(name)
      if (bloomManifestParams(name).isDefined) refreshBloomManifest(name)
      invalidate(name)
      victims.size
    }
  }

  /** Append-only sink (incremental strategy I1): new part-files land next to
    * existing ones; no rewrite of existing data.
    */
  // ---- versioned tables (time travel) -------------------------------
  //
  // Multi-version table state for reproducibility and audit — the public
  // Delta/Iceberg snapshot idea collapsed to the warehouse's dir-swap
  // idiom (no log compaction needed because versions here are whole
  // materializations, the granularity warehouse models actually have):
  // each write stages `name__v<k>` via tmp + atomic rename, so a version
  // dir EXISTING means it is complete; the current version is simply the
  // largest. Readers pin a version by NUMBER — "training run X read
  // corpus v2" stays answerable (and re-runnable) after v3 lands, which
  // at 100 TB is the difference between reproducing a training mix and
  // guessing at it. Retention drops the oldest versions by first
  // atomically renaming to `__drop` and then deleting, so a crash
  // mid-delete can never leave a PARTIAL dir that still lists as a
  // complete version; lingering `__tmp`/`__drop` dirs are swept on the
  // next write.

  private def versionDir(name: String, v: Long): Path =
    Paths.get(root, s"${name}__v$v")

  /** Complete versions of a versioned table, ascending (empty when none). */
  def versionsOf(name: String): Seq[Long] = {
    val base = Paths.get(root)
    if (!Files.exists(base)) return Nil
    val prefix = s"${name}__v"
    val it = Files.list(base)
    try it.iterator().asScala
      .map(_.getFileName.toString)
      .filter(f => f.startsWith(prefix) && !f.endsWith("__tmp")
        && !f.endsWith("__drop"))
      .flatMap(f => scala.util.Try(f.stripPrefix(prefix).toLong).toOption)
      .toSeq.sorted
    finally it.close()
  }

  def currentVersion(name: String): Long = {
    val vs = versionsOf(name)
    require(vs.nonEmpty, s"'$name' has no versions")
    vs.last
  }

  /** Write the next version of `name` and return its number. `keep > 0`
    * retains only the newest `keep` versions (the new one included) —
    * the retention sweep runs AFTER the new version is durable, so a
    * crash anywhere leaves at least the previous state readable.
    */
  def writeVersioned(name: String, df: DataFrame, keep: Int = 0): Long = {
    require(keep >= 0, s"keep must be >= 0 (0 = unlimited), got $keep")
    // sweep leftovers from crashed writes/drops before staging
    val base = Paths.get(root)
    if (Files.exists(base)) {
      val it = Files.list(base)
      try it.iterator().asScala
        .filter { p => val f = p.getFileName.toString
          f.startsWith(s"${name}__v") && (f.endsWith("__tmp") || f.endsWith("__drop")) }
        .toSeq.foreach(deleteRec)
      finally it.close()
    }
    val next = versionsOf(name).lastOption.getOrElse(0L) + 1L
    val tmp = Paths.get(root, s"${name}__v${next}__tmp")
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    failpoint("versioned:staged")
    Files.move(tmp, versionDir(name, next), StandardCopyOption.ATOMIC_MOVE)
    failpoint("versioned:committed")
    if (keep > 0) versionsOf(name).dropRight(keep).foreach { old =>
      val drop = Paths.get(root, s"${name}__v${old}__drop")
      Files.move(versionDir(name, old), drop, StandardCopyOption.ATOMIC_MOVE)
      failpoint("versioned:drop-renamed")
      deleteRec(drop)
    }
    next
  }

  /** Read one version (default -1 = current). Raises on a dropped or
    * never-written version — time travel must fail loudly, not serve the
    * wrong snapshot.
    */
  def readVersioned(name: String, version: Long = -1L): DataFrame = {
    val v = if (version < 0) currentVersion(name) else version
    require(Files.exists(versionDir(name, v)),
      s"'$name' has no version $v (live: ${versionsOf(name).mkString(",")})")
    val df = spark.read.parquet(versionDir(name, v).toString)
    df.drop(df.columns.filter(_.startsWith(enginePrefix)).toSeq: _*)
  }

  /** Drop ALL versions of a versioned table (the [[drop]] analogue). */
  def dropVersioned(name: String): Unit = {
    val base = Paths.get(root)
    if (!Files.exists(base)) return
    val it = Files.list(base)
    try it.iterator().asScala
      .filter(_.getFileName.toString.startsWith(s"${name}__v"))
      .toSeq.foreach(deleteRec)
    finally it.close()
    // same derived-knowledge hygiene as [[drop]]: a versioned relation
    // recreated under this name starts from v1 with no inherited
    // signatures or constraints
    Files.deleteIfExists(dir(name + "__buildsig__meta"))
    Files.deleteIfExists(dir(name + "__constraints__meta"))
  }

  def append(name: String, df: DataFrame): Unit = {
    // recover first: appending into the backup-only crash state would
    // recreate the target dir with ONLY the batch, permanently shadowing
    // the backup copy of everything before it
    recover(name)
    df.write.mode(SaveMode.Append).parquet(dir(name).toString)
    invalidate(name)
  }

  /** Partition-pruned upsert (the long-running-stream merge path): the
    * target lives partitioned by an engine-internal key-hash bucket column
    * (`__graft_bucket`, stripped from logical reads like every engine
    * column), and a batch rewrites ONLY the buckets its keys touch (staged
    * per-bucket swap) — per-batch I/O is O(batch's buckets), never
    * O(target). The bucket is a pure function of the key columns, so every
    * version of a key lands in the same bucket and the bucket-restricted
    * merge is globally correct.
    *
    * `nullSafeKeys`: a NULL key hashes to a stable bucket either way, but
    * without null-safe matching every batch INSERTS its NULL-key rows anew
    * (SQL equality never matches NULL) — enable when the stream can carry
    * NULL keys and latest-wins should apply to them too.
    */
  /** The pruned target read the upsert merge runs on — the raw path read
    * keeps the engine bucket column (logical `read` strips it) and the isin
    * filter reaches the scan as a static partition filter. private[graft]
    * so the spec asserts the PRODUCTION read path's plan, not a replica.
    */
  private[graft] def touchedBucketScan(name: String, partCol: String,
      touchedVals: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val raw = spark.read.parquet(dir(name).toString)
    require(!raw.columns.contains("part_bucket"),
      s"'$name' uses the legacy part_bucket layout — rewrite it (read + " +
        "upsertPartitioned into a fresh table) before upserting")
    raw.filter(col(partCol).isin(touchedVals: _*))
  }

  def upsertPartitioned(name: String, batch: DataFrame, keys: Seq[String],
      nBuckets: Int = 64, nullSafeKeys: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val partCol = enginePrefix + "bucket"
    require(!batch.columns.contains(partCol), s"column name '$partCol' is reserved")
    val withPart = batch.withColumn(partCol, pmod(hash(keys.map(col): _*), lit(nBuckets)))
    if (!exists(name)) {
      // staged like every other creation path (writeSwap = tmp + atomic
      // rename): a direct write that died mid-stream would leave a partial
      // dir that every later open accepts as the complete first batch
      writeSwap(name, withPart, partitionBy = Seq(partCol))
    } else {
      // the batch is scanned up to four times below (touched-ids collect +
      // merge's three branches): pin it for identical inputs across
      // scans — the temp-relation rule I8 the Registry enforces for the
      // same strategies; a nondeterministic source re-evaluated per branch
      // could disagree with itself about which keys matched
      Pin.loan(withPart.pinLazy()) { batchP =>
        // STATIC partition pruning: the touched bucket ids (at most nBuckets
        // values) collect in one tiny job and become an isin partition
        // filter the scan provably honors — a broadcast semi-join looks
        // equivalent but Spark's dynamic partition pruning declines it
        // without stats, silently re-reading the whole target every batch
        val touchedVals = batchP.select(partCol).distinct()
          .collect().map(_.getInt(0)).toSeq
        // lazy pin: merge's three branches (updated/untouched/inserted)
        // would otherwise scan the touched buckets three times; volume is
        // bucket-bounded so pinning is safe (unlike a full-table merge,
        // where re-scanning parquet beats pinning). Released even when the
        // commit throws: a failed batch is replayed, and each attempt would
        // otherwise hold a touched-bucket copy.
        Pin.loan(touchedBucketScan(name, partCol, touchedVals).pinLazy()) { target =>
          val merged = Incremental.merge(target, batchP, keys, nullSafeKeys = nullSafeKeys)
          // commit via the staged slice swap (stage to tmp, intent marker,
          // per-bucket rename): a crash mid-commit is finished by recover() —
          // the in-place dynamic partition overwrite this replaces could lose a
          // touched bucket's pre-batch keys if it died between delete and land.
          // Staging also means the plan never overwrites files it still reads,
          // so the merge result needs no eager pin.
          overwritePeriods(name, merged, partCol, touchedVals.map(_.toString))
        }
      }
    }
  }

  /** Bucketed catalog table: co-locates future joins/aggregations on the
    * bucket keys — the 100 TB answer to repeated shuffles on a stable key
    * (both sides bucketed by the same keys+count join with ZERO exchanges).
    * Uses the session catalog (`saveAsTable`; bucketing metadata doesn't
    * survive in plain parquet dirs).
    */
  def writeBucketed(table: String, df: DataFrame, bucketCols: Seq[String],
      nBuckets: Int): Unit = {
    // finish any crashed drop() of this name FIRST (same discipline as
    // writeSwap): without this, a stale drop-intent marker survives the
    // rebuild and the next exists()/read() would complete the old drop
    // against the freshly written live table
    recover(table)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    deleteRec(dir(table)) // external location under this warehouse root
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .option("path", dir(table).toString)
      .saveAsTable(table)
    putMeta(table + "__bktgen", "")
  }

  /** Append-only batch into a bucketed catalog table created by
    * [[writeBucketed]]: new part-files land in their buckets (each sorted
    * within itself — Spark validates the spec against the table), existing
    * data is never read or rewritten. This is the INDEX-GROWTH path (e.g.
    * the incremental-dedup signature index): per-run I/O is O(batch), and
    * later bucket-joins still see one coherent bucketing. Works on plain
    * AND generation-lifecycle tables alike (the append targets whatever
    * generation the catalog currently names, after settling any crashed
    * swap), so append -> [[compactBucketed]] -> append cycles compose.
    */
  def appendBucketed(table: String, df: DataFrame, bucketCols: Seq[String],
      nBuckets: Int): Unit = {
    // a crashed drop() must fail the require below loudly (table gone),
    // never append into half-dropped state; a crashed generation swap is
    // settled first so the append lands in the CURRENT generation
    recover(table)
    recoverBucketedGen(table)
    require(spark.catalog.tableExists(table), s"bucketed target $table missing")
    df.write.mode(SaveMode.Append)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
    invalidate(table)
  }

  /** Bucket-co-located incremental MERGE (the 100 TB stable-key path): the
    * target lives as a bucketed catalog table on the merge keys, so the
    * TARGET side of every per-run merge join arrives pre-partitioned and
    * pre-sorted — zero Exchange/Sort on the big side, only the batch
    * shuffles. The rewrite lands in an alternating generation path and takes
    * over the table name via catalog rename (data never moves), so a reader
    * holding the old generation keeps a consistent view and a crash before
    * the rename leaves the old generation intact.
    */
  /** Catalog-level crash recovery for the generation swap below: the rename
    * dance has two windows — (1) after DROP TABLE but before RENAME the
    * catalog has no table under the target name while the finished
    * `__gen_*` table holds the new generation; (2) after RENAME but before
    * the meta write the table exists but the recorded generation is stale
    * (the next merge would otherwise delete the LIVE generation's path).
    * Both repair deterministically from catalog + path state; returns the
    * trusted current generation.
    */
  private def recoverBucketedGen(table: String): String = {
    val meta = getMeta(table + "__bktgen").getOrElse("")
    if (!spark.catalog.tableExists(table)) {
      val flip = if (meta == "a") "b" else "a"
      val lingering = s"${table}__gen_$flip"
      if (spark.catalog.tableExists(lingering)) { // window (1): finish the rename
        spark.sql(s"ALTER TABLE $lingering RENAME TO $table")
        putMeta(table + "__bktgen", flip)
        deleteRec(dir(if (meta.isEmpty) table else s"$table@$meta"))
        invalidate(table)
        return flip
      }
      return meta // nothing to recover; the caller's require reports it
    }
    // window (2): the table's ACTUAL location wins over the recorded meta
    val base = new java.io.File(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location.getPath).getName
    val actual = if (base.contains("@")) base.substring(base.lastIndexOf("@") + 1) else ""
    if (actual != meta) {
      putMeta(table + "__bktgen", actual)
      deleteRec(dir(if (meta.isEmpty) table else s"$table@$meta"))
      invalidate(table)
    }
    actual
  }

  def mergeBucketed(table: String, source: DataFrame, keys: Seq[String],
      nBuckets: Int): Unit = {
    val genNow = recoverBucketedGen(table)
    require(spark.catalog.tableExists(table), s"bucketed target $table missing")
    // same identical-inputs rule as upsertPartitioned: merge's three
    // branches each scan the source within the one saveAsTable action
    Pin.loan(source.pinLazy())(mergeBucketedImpl(table, _, keys, nBuckets, genNow))
  }

  /** Bucketed-table compaction: every [[appendBucketed]] batch adds one
    * part-file per touched bucket, and at corpus scale an append-heavy
    * index (e.g. the incremental-dedup signature tables) degrades into
    * thousands of small files per bucket. Rewrites the table through the
    * SAME crash-safe generation swap as [[mergeBucketed]], content
    * untouched and SHUFFLE-FREE: with the bucketed scan forced on (Spark
    * auto-disables it when no join/agg would benefit — here the benefit
    * is the write), each task reads exactly one bucket's files and the
    * writer emits exactly ONE file per bucket, with no exchange between
    * scan and write. Appends keep working afterwards (they target the
    * current generation through the catalog).
    */
  def compactBucketed(table: String, keys: Seq[String], nBuckets: Int): Unit = {
    recover(table)
    val genNow = recoverBucketedGen(table)
    require(spark.catalog.tableExists(table), s"bucketed target $table missing")
    val autoScan = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(autoScan)
    spark.conf.set(autoScan, "false")
    try writeBucketedGen(table, spark.table(table), keys, nBuckets, genNow)
    finally spark.conf.set(autoScan, prev)
  }

  /** Crash-safe full rewrite of a bucketed catalog table from `df` via the
    * same generation swap as [[mergeBucketed]]/[[compactBucketed]] — the
    * repair path for index surgeries (e.g. [[graft.pipeline.IncrementalDedup]]'s
    * torn-ingest orphan removal). `df` may read from the table itself: the
    * new generation is staged in the alternate path before the catalog flips.
    */
  def rewriteBucketed(table: String, df: DataFrame, keys: Seq[String],
      nBuckets: Int): Unit = {
    recover(table)
    val genNow = recoverBucketedGen(table)
    require(spark.catalog.tableExists(table), s"bucketed target $table missing")
    writeBucketedGen(table, df, keys, nBuckets, genNow)
  }

  /** Data part-file count of a bucketed catalog table's CURRENT generation —
    * the compaction-cadence signal ([[appendBucketed]] adds up to one file
    * per bucket per batch; callers compact when this crosses their
    * files-per-bucket budget). One directory listing, no Spark job.
    */
  def bucketedFileCount(table: String): Int = {
    recover(table)
    val gen = recoverBucketedGen(table)
    val p = dir(if (gen.isEmpty) table else s"$table@$gen")
    if (!Files.exists(p)) 0
    else listDir(p).count { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  private def mergeBucketedImpl(table: String, source: DataFrame,
      keys: Seq[String], nBuckets: Int, genNow: String): Unit =
    writeBucketedGen(table,
      Incremental.merge(spark.table(table), source, keys), keys, nBuckets, genNow)

  /** Stage a new generation of a bucketed table from `df` and swap it in —
    * the crash-safe rewrite shared by [[mergeBucketed]] and
    * [[compactBucketed]] (kill-tested at every bktgen:* failpoint).
    */
  private def writeBucketedGen(table: String, merged: DataFrame,
      keys: Seq[String], nBuckets: Int, genNow: String): Unit = {
    val genNext = if (genNow == "a") "b" else "a"
    val prevPath = dir(if (genNow.isEmpty) table else s"$table@$genNow")
    val nextName = s"${table}__gen_$genNext"
    spark.sql(s"DROP TABLE IF EXISTS $nextName")
    deleteRec(dir(s"$table@$genNext"))
    // a crash after the meta write but before the prev-generation delete
    // leaks the first-generation plain dir forever (gen names alternate a/b
    // afterwards, so no later run reuses it) — at corpus scale that is a
    // full stale copy of the table; sweep it here
    if (genNow.nonEmpty) deleteRec(dir(table))
    merged.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .option("path", dir(s"$table@$genNext").toString)
      .saveAsTable(nextName)
    failpoint("bktgen:staged")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    failpoint("bktgen:dropped")
    spark.sql(s"ALTER TABLE $nextName RENAME TO $table")
    failpoint("bktgen:renamed")
    putMeta(table + "__bktgen", genNext)
    failpoint("bktgen:meta")
    deleteRec(prevPath)
    // bucketed tables are CATALOG tables (read via spark.table, where the
    // bucket metadata lives); a path-read cache entry would now dangle
    invalidate(table)
  }

  /** Small-file compaction (the OPTIMIZE maintenance op): append-heavy
    * targets accumulate part-files per batch; compaction rewrites the table
    * through the same atomic swap. Partition layouts are preserved (files
    * regroup WITHIN partitions, one writer per partition value); a
    * clusterBy sort order from the original writeSwap is NOT retained
    * implicitly — pass `clusterBy` to re-establish it (unpartitioned
    * tables only). Logical content is untouched — gate with
    * [[graft.operators.GenericTests.relationFingerprint]] when paranoid.
    *
    * `rowsPerFile` bounds file size from ABOVE on EVERY layout via a
    * write-scoped `spark.sql.files.maxRecordsPerFile`: co-locating a hot
    * partition (or the whole unpartitioned table) into one writer must not
    * produce one oversized file — the writer re-splits at the target, so a
    * skewed partition compacts to ceil(its rows / rowsPerFile) files
    * instead of a single multi-GB one. Returns the data-file count after
    * compaction (the maintenance-loop observability number).
    */
  def compact(name: String, rowsPerFile: Long = 1000000L,
      clusterBy: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    require(rowsPerFile >= 1L, s"rowsPerFile: $rowsPerFile")
    recover(name)
    // partition columns come from the DIRECTORY layout (works for any
    // partitioned table — microbatch periods, upsert buckets), never from
    // naming conventions
    val partCols = listDir(dir(name))
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
      .map(_.getFileName.toString.split("=", 2)(0)).distinct
    require(partCols.isEmpty || clusterBy.isEmpty,
      "clusterBy applies to unpartitioned tables only")
    val raw = spark.read.parquet(dir(name).toString)
    val confKey = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, rowsPerFile.toString)
    try {
      if (partCols.nonEmpty)
        writeSwap(name, raw.repartition(partCols.map(col): _*), partitionBy = partCols)
      else if (clusterBy.nonEmpty)
        writeSwap(name, raw, clusterBy = clusterBy)
      else {
        val n = math.max(1L, (raw.count() + rowsPerFile - 1) / rowsPerFile).toInt
        writeSwap(name, raw.repartition(n))
      }
    } finally prev match {
      case Some(v) => spark.conf.set(confKey, v)
      case None => spark.conf.unset(confKey)
    }
    dataFileCount(name)
  }

  /** Count of parquet data files under a table dir (recursive — partition
    * layouts nest).
    */
  def dataFileCount(name: String): Long = {
    val st = Files.walk(dir(name))
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.count(p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
    } finally st.close()
  }

  /** Z-order layout rewrite (the OPTIMIZE ... ZORDER BY maintenance op):
    * rewrite an unpartitioned table ordered along the Morton curve of two
    * columns, so file-level min/max stats become selective in BOTH
    * dimensions at once — a 2-d box (or a slab in the SECOND column, the
    * one linear `clusterBy` cannot serve) lands in few files and parquet
    * row-group stats skip the rest. Columns are rank-normalized to 16-bit
    * buckets from an exact 1-row min/max agg (integer div), interleaved by
    * the codegen'd [[graft.plans.Expressions]] ZOrder16, range-partitioned
    * and sorted within partitions — the q117 layout key wired into the
    * swap-protocol writer as a real table operation. Content-identical by
    * construction (the key is dropped before the write).
    */
  def rewriteZOrdered(name: String, colA: String, colB: String,
      numFiles: Int = 0): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    require(Files.exists(dir(name)), s"no table '$name'")
    val raw = read(name)
    Seq(colA, colB).foreach(c => require(raw.columns.contains(c),
      s"no column '$c' in '$name'"))
    val bounds = raw.agg(
      org.apache.spark.sql.functions.min(col(colA).cast("long")).as("mna"),
      org.apache.spark.sql.functions.max(col(colA).cast("long")).as("mxa"),
      org.apache.spark.sql.functions.min(col(colB).cast("long")).as("mnb"),
      org.apache.spark.sql.functions.max(col(colB).cast("long")).as("mxb"))
      .collect()(0)
    def bucket(c: String, mn: Long, mx: Long) =
      if (mx == mn) lit(0)
      else org.apache.spark.sql.functions.call_function("div",
        (col(c).cast("long") - mn) * 65535L, lit(mx - mn)).cast("int")
    val key = enginePrefix + "zkey"
    val keyed = raw.withColumn(key, graft.plans.Expressions.zorder16(
      bucket(colA, bounds.getLong(0), bounds.getLong(1)),
      bucket(colB, bounds.getLong(2), bounds.getLong(3))))
    val parts = if (numFiles > 0) keyed.repartitionByRange(numFiles, col(key))
      else keyed.repartitionByRange(col(key))
    // the engine key is dropped by read()'s enginePrefix filter, but drop
    // it physically too — layout metadata does not belong in the files
    writeSwap(name, parts.sortWithinPartitions(col(key)).drop(key))
  }

  /** Parquet data files under a table dir (recursive), sorted for
    * deterministic manifest order.
    */
  private def parquetDataFiles(name: String): Seq[Path] = {
    val st = Files.walk(dir(name))
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.endsWith(".parquet") &&
          !n.startsWith("_") && !n.startsWith(".")
      }.toSeq.sortBy(_.toString)
    } finally st.close()
  }

  /** Content signature of a stored relation derived from its parquet file
    * LISTING — md5 over the sorted (relative path, byte size) entries: the
    * same metadata every read already lists, so the cost is O(files) stat
    * calls and ZERO data reads at any table size (the only signature that
    * scales to 100 TB). Every writer path through this warehouse changes
    * the listing — swap replaces the directory contents with fresh task
    * files, appends add files, compaction/Z-order rewrites rename — so a
    * changed relation ALWAYS changes signature, including out-of-band
    * writes by another Warehouse instance over the same root. The converse
    * is conservative: a byte-identical rewrite under new file names reads
    * as "changed" and costs a rebuild, never correctness. Versioned tables
    * sign as their current version number (versions are immutable, the
    * number IS the content identity). None when the relation doesn't
    * exist — callers must treat an unsignable input as "assume changed".
    */
  def relationSignature(name: String): Option[String] = {
    recover(name)
    if (Files.exists(dir(name))) {
      val basis = parquetDataFiles(name)
        .map(p => s"${dir(name).relativize(p)}:${Files.size(p)}")
        .mkString("\n")
      Some(java.security.MessageDigest.getInstance("MD5")
        .digest(basis.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    } else versionsOf(name).lastOption.map(v => s"v$v")
  }

  /** Per-file (column -> min, max) data-skipping manifest — the 100 TB
    * scan-pruning handle for range predicates on NON-partition columns:
    * directory pruning ([[overwritePeriods]] layouts) and Z-order /
    * clusterBy sort layouts exist, but a range predicate on a sorted
    * column still LISTS and footer-probes every file (parquet row-group
    * stats prune only after each footer round-trip — a listing storm at
    * corpus scale). The manifest folds every file's footer min/max into
    * ONE sidecar read once per query, so files are pruned BEFORE Spark
    * lists them — the Delta/Iceberg data-skipping idea on plain parquet
    * dirs, composing with the Z-order layout (q251) whose second
    * dimension linear clusterBy cannot serve.
    *
    * Metadata-only build: footers are read driver-side (no Spark job, no
    * data pages — O(files) footer reads once at write time, amortized
    * over every later read). Stats are recorded for integral physical
    * types (INT32/INT64 — the engine keys ranges on integers/dates) and
    * for STRING columns (BINARY chunks, unsigned byte-wise bounds — the
    * order UTF8String, parquet's UNSIGNED sort order, and binary-collated
    * SQL engines all share): string bounds longer than 32 bytes are
    * truncated the Iceberg `truncate(n)` way — the lower bound cut (a
    * prefix is byte-wise <= the full value), the upper bound cut at its
    * last non-0xFF byte and incremented (provably >= the true max; an
    * all-0xFF prefix records "unbounded above"). A file without usable
    * stats for a column is simply unprunable on it (conservative).
    * Staleness is structural, not temporal: the manifest records each
    * data file's (relative path, byte size); [[readPruned]] validates
    * that set against the live listing and falls back to a full scan on
    * ANY mismatch — every writer path (swap, append, compact, slice)
    * changes the file set, so a stale manifest can never drop rows —
    * growth paths (append, microbatch slides) re-arm cheaply via
    * [[refreshStatsManifest]] at O(new files). Partitioned layouts are
    * supported: the manifest serves NON-partition columns (partition
    * keys prune by directory), pruned reads re-derive partition columns
    * from the kept paths via basePath, and the two axes compose in
    * [[readPeriodRangePruned]]. Returns the file count manifested.
    */
  def writeStatsManifest(name: String, cols: Seq[String]): Int = {
    recover(name)
    require(Files.exists(dir(name)), s"no table '$name'")
    val files = parquetDataFiles(name)
    putMeta(name + "__stats",
      ("v2" +: statsLines(name, files, cols)).mkString("\n"))
    files.size
  }

  /** Incremental stats refresh — the append/slide maintenance pass
    * (mirror of [[refreshBloomManifest]]): per-file footer bounds are
    * independent, so unchanged (relative path, byte size) entries are
    * kept verbatim and only NEW files pay a footer read — a microbatch
    * slide that lands one day's partition re-manifests at O(new files),
    * not O(table). Columns come from the recorded manifest. Returns
    * (footers read, lines reused).
    */
  def refreshStatsManifest(name: String): (Int, Int) = {
    recover(name)
    val cols = manifestCols(name)
    require(cols.nonEmpty,
      s"no stats manifest on '$name' — writeStatsManifest first")
    // reuse-verbatim requires the stored FORMAT to be the one this code
    // writes: relabeling pre-v2 entries (`c=mn:mx`) under a v2 header
    // would make every later pruned read throw in parseColStats instead
    // of declining to a full scan (ADVICE r13). A version mismatch pays
    // the full rebuild once and re-arms incrementality from there.
    if (!getMeta(name + "__stats").get.split("\n", -1).headOption.contains("v2"))
      return (writeStatsManifest(name, cols), 0)
    val old = getMeta(name + "__stats").get.split("\n", -1).drop(1)
      .filter(_.nonEmpty).map { ln =>
        val parts = ln.split("\t", -1)
        (parts(0), parts(1).toLong) -> ln
      }.toMap
    val files = parquetDataFiles(name)
    val (kept, fresh) = files.partition(p =>
      old.contains((dir(name).relativize(p).toString, Files.size(p))))
    val freshByRel = fresh.map(p => dir(name).relativize(p).toString)
      .zip(statsLines(name, fresh, cols)).toMap
    val merged = files.map { p =>
      val key = (dir(name).relativize(p).toString, Files.size(p))
      old.getOrElse(key, freshByRel(key._1))
    }
    putMeta(name + "__stats", ("v2" +: merged).mkString("\n"))
    (fresh.size, kept.size)
  }

  /** Per-file typed stats entries for a SUBSET of a table's data files —
    * shared by the full build and the incremental refresh. Driver-side
    * footer reads only.
    */
  private def statsLines(name: String, files: Seq[Path],
      cols: Seq[String]): Seq[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    require(cols.nonEmpty, "stats manifests need at least one column")
    require(cols.forall(_.matches("[A-Za-z0-9_]+")),
      s"manifest columns must be plain identifiers: $cols")
    val b64 = java.util.Base64.getEncoder
    val conf = spark.sessionState.newHadoopConf()
    files.map { p =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toAbsolutePath.toString), conf)
      val reader = ParquetFileReader.open(in)
      val entries = try {
        import scala.jdk.CollectionConverters._
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        cols.flatMap { c =>
          val chunks = blocks.flatMap(_.getColumns.asScala
            .filter(_.getPath.toDotString == c))
          def statsOk = chunks.forall(ch => ch.getStatistics != null &&
            !ch.getStatistics.isEmpty && ch.getStatistics.hasNonNullValue)
          def allType(tn: PrimitiveTypeName) =
            chunks.forall(_.getPrimitiveType.getPrimitiveTypeName == tn)
          if (chunks.isEmpty || !statsOk) None
          else if (allType(PrimitiveTypeName.INT32) ||
              allType(PrimitiveTypeName.INT64))
            Some(s"$c=i:" +
              chunks.map(_.getStatistics.genericGetMin
                .asInstanceOf[Number].longValue).min + ":" +
              chunks.map(_.getStatistics.genericGetMax
                .asInstanceOf[Number].longValue).max)
          else if (allType(PrimitiveTypeName.BINARY)) {
            val ord = byteOrdering
            val mn = chunks.map(_.getStatistics.genericGetMin
              .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes).min(ord)
            val mx = chunks.map(_.getStatistics.genericGetMax
              .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes).max(ord)
            val lo = if (mn.length <= 32) mn else mn.take(32)
            val hi: Option[Array[Byte]] =
              if (mx.length <= 32) Some(mx)
              else {
                val t = mx.take(32)
                val i = t.lastIndexWhere(_ != -1.toByte)
                if (i < 0) None // all 0xFF: no finite truncated upper bound
                else Some(t.take(i + 1).updated(i, (t(i) + 1).toByte))
              }
            Some(s"$c=s:" + b64.encodeToString(lo) + ":" +
              hi.map(b64.encodeToString).getOrElse("*"))
          } else None
        }
      } finally reader.close()
      (Seq(dir(name).relativize(p).toString, Files.size(p).toString) ++ entries)
        .mkString("\t")
    }
  }

  /** Unsigned byte-wise ordering — the shared sort order of UTF8String,
    * parquet BINARY statistics, and binary-collated SQL engines.
    */
  private val byteOrdering: Ordering[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)

  /** The manifest-pruned file set admitting rows inside the conjunctive
    * BOX `AND_i column_i in [lo_i, hi_i]` (a file is dropped when ANY
    * predicate's recorded range is provably disjoint), plus the total
    * file count — None when no manifest exists, its version is unknown,
    * or its recorded (path, size) set mismatches the live listing
    * (callers fall back to a full scan). The multi-column form is the
    * Z-order layout's payoff: a 2-d box intersects few Morton ranges, so
    * BOTH predicates prune multiplicatively where linear clusterBy
    * serves only its leading column. private[graft] so specs assert the
    * PRODUCTION pruning decision, not a replica.
    */
  /** One column's recorded per-file bound: an integral [lo, hi] or a
    * (possibly truncated) unsigned byte-wise string bound — `hiB = None`
    * means "unbounded above" (an all-0xFF truncation).
    */
  private sealed trait ColStat
  private case class IntStat(lo: Long, hi: Long) extends ColStat
  private case class StrStat(loB: Array[Byte], hiB: Option[Array[Byte]])
    extends ColStat

  /** One range predicate against the manifest: integral, or unsigned
    * byte-wise on UTF-8 bytes (`hi = None` = unbounded above — the
    * prefix-read upper bound when the prefix is all 0xFF).
    */
  private[graft] sealed trait RangePred { def column: String }
  private[graft] case class IntRange(column: String, lo: Long, hi: Long)
    extends RangePred
  private[graft] case class BytesRange(column: String, lo: Array[Byte],
      hi: Option[Array[Byte]]) extends RangePred

  /** Parse + staleness-check a sidecar manifest (shared by the stats and
    * bloom readers): the recorded (relative path, byte size) set must
    * match the live listing exactly, or the whole manifest is rejected
    * and callers fall back to a full scan. Yields (header tail lines,
    * per-file records with their raw entry strings).
    */
  private def loadManifest(name: String, suffix: String, version: String,
      headerLines: Int): Option[(Seq[String], Seq[(String, Seq[String])])] =
    getMeta(name + suffix).flatMap { m =>
      val lines = m.split("\n", -1).toSeq
      if (lines.headOption.forall(_ != version)) None
      else {
        val header = lines.slice(1, 1 + headerLines)
        val recs = lines.drop(1 + headerLines).filter(_.nonEmpty).map { ln =>
          val parts = ln.split("\t", -1).toSeq
          ((parts(0), parts(1).toLong), parts.drop(2))
        }
        val live = parquetDataFiles(name)
          .map(p => dir(name).relativize(p).toString -> Files.size(p)).toMap
        if (live != recs.map(_._1).toMap) None // stale manifest
        else Some((header, recs.map { case ((p, _), es) => (p, es) }))
      }
    }

  private def parseColStats(entries: Seq[String]): Map[String, ColStat] = {
    val b64 = java.util.Base64.getDecoder
    entries.map { e =>
      val Array(c, r) = e.split("=", 2)
      r.split(":", -1) match {
        case Array("i", mn, mx) => c -> IntStat(mn.toLong, mx.toLong)
        case Array("s", lo, hi) => c -> StrStat(b64.decode(lo),
          if (hi == "*") None else Some(b64.decode(hi)))
        case other => throw new IllegalStateException(
          s"unreadable manifest entry '$c=${other.mkString(":")}'")
      }
    }.toMap
  }

  /** True when the recorded bound CANNOT rule the file out for the
    * predicate — missing stats and type mismatches keep (conservative),
    * so pruning only ever drops files whose disjointness is proven.
    */
  private def mayIntersect(st: Map[String, ColStat], p: RangePred): Boolean =
    (st.get(p.column), p) match {
      case (Some(IntStat(mn, mx)), IntRange(_, lo, hi)) => mx >= lo && mn <= hi
      case (Some(StrStat(mnB, mxB)), BytesRange(_, lo, hi)) =>
        mxB.forall(mx => java.util.Arrays.compareUnsigned(mx, lo) >= 0) &&
          hi.forall(h => java.util.Arrays.compareUnsigned(mnB, h) <= 0)
      case _ => true // no stats or type mismatch -> unprunable
    }

  private[graft] def statsPrunedFiles(name: String,
      preds: Seq[(String, Long, Long)]): Option[(Seq[Path], Int)] =
    statsPrunedFilesTyped(name,
      preds.map { case (c, lo, hi) => IntRange(c, lo, hi) })

  private[graft] def statsPrunedFilesTyped(name: String,
      preds: Seq[RangePred]): Option[(Seq[Path], Int)] = {
    require(preds.nonEmpty, "statsPrunedFiles needs at least one predicate")
    recover(name)
    loadManifest(name, "__stats", "v2", 0).map { case (_, recs) =>
      (recs.filter { case (_, entries) =>
        val st = parseColStats(entries)
        preds.forall(p => mayIntersect(st, p))
      }.map(r => dir(name).resolve(r._1)), recs.size)
    }
  }

  private[graft] def statsPrunedFiles(name: String, column: String, lo: Long,
      hi: Long): Option[(Seq[Path], Int)] =
    statsPrunedFiles(name, Seq((column, lo, hi)))

  /** Range read with manifest file skipping: semantically IDENTICAL to
    * `read(name).filter(column between lo and hi)` — the manifest only
    * removes files whose recorded min/max PROVE disjointness, and the
    * row-level predicate still applies to every file read. Falls back to
    * the full scan whenever [[statsPrunedFiles]] declines (no manifest /
    * stale), so the operator is always safe to call.
    */
  def readPruned(name: String, column: String, lo: Long, hi: Long): DataFrame =
    readPrunedBox(name, Seq((column, lo, hi)))

  /** Conjunctive multi-range read with manifest file skipping — the box
    * query over a Z-ordered layout (q251 + q454 composed): semantically
    * identical to `read(name).filter(AND_i col_i between lo_i and hi_i)`.
    * Same safety contract as [[readPruned]].
    */
  def readPrunedBox(name: String, preds: Seq[(String, Long, Long)]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    preds.foreach { case (c, lo, hi) => require(lo <= hi, s"range $c: [$lo, $hi]") }
    def pred(df: DataFrame) = preds.foldLeft(df) { case (d, (c, lo, hi)) =>
      // integral LOGICAL types only: a DATE column also stores INT32
      // physically (the manifest records its day numbers fine), but the
      // long-literal predicate below would hit an ANSI type clash —
      // fail loudly and tell the caller to key ranges on epoch-day ints
      // (the fixed-point discipline; the madOutliers guard family).
      // Checked on the frame actually filtered, so the pruned path pays
      // no extra file-index build.
      d.schema.fields.find(_.name == c).foreach { f =>
        require(Seq("byte", "short", "integer", "long")
          .contains(f.dataType.typeName),
          s"readPruned range column '$c' is ${f.dataType.typeName} — " +
            "quantize to an integral column first (epoch days / cents)")
      }
      d.filter(col(c) >= lit(lo) && col(c) <= lit(hi)) }
    prunedRead(statsPrunedFiles(name, preds), name, pred)
  }

  /** The shared pruned-read shape: a proven-empty kept set folds to an
    * empty relation with the table's schema (zero I/O), a pruned set
    * reads only those files, and a declined manifest (None) falls back
    * to the full scan — the row-level predicate applies in EVERY case,
    * so the result is always exactly `pred(read(name))`.
    */
  private def prunedRead(kept: Option[(Seq[Path], Int)], name: String,
      pred: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    kept match {
      case Some((k, _)) if k.isEmpty => pred(read(name)).filter(lit(false))
      case Some((k, _)) =>
        // basePath: explicit-file reads of a PARTITIONED layout re-derive
        // the partition columns from the kept paths (no directory
        // listing beyond our own walk); harmless on flat layouts
        val raw = spark.read.option("basePath", dir(name).toString)
          .parquet(k.map(_.toString): _*)
        pred(raw.drop(raw.columns.filter(_.startsWith(enginePrefix)).toSeq: _*))
      case None => pred(read(name))
    }
  }

  private def requireStringCol(name: String, df: DataFrame, c: String): Unit =
    df.schema.fields.find(_.name == c).foreach { f =>
      require(f.dataType.typeName == "string",
        s"'$c' is ${f.dataType.typeName} — string pruned reads take string " +
          "columns (integral ranges go through readPruned)")
    }

  /** UTF-8 bytes of the smallest string STRICTLY greater than every
    * string with this prefix — the prefix read's exclusive upper bound
    * (None when the prefix is all 0xFF: unbounded above).
    */
  private def prefixUpper(prefix: Array[Byte]): Option[Array[Byte]] = {
    val i = prefix.lastIndexWhere(_ != -1.toByte)
    if (i < 0) None else Some(prefix.take(i + 1).updated(i, (prefix(i) + 1).toByte))
  }

  /** String-range read with manifest file skipping — semantically
    * identical to `read(name).filter(column between lo and hi)` (string
    * comparison is unsigned byte-wise on UTF-8 in Spark, parquet stats,
    * and binary-collated SQL engines alike). Same safety contract as
    * [[readPruned]]: pruning only drops files whose recorded bounds
    * PROVE disjointness; stale/missing manifests fall back to the full
    * scan, and the row predicate applies in every case.
    */
  def readPrunedStrRange(name: String, column: String, lo: String,
      hi: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(lo <= hi, s"range $column: ['$lo', '$hi']")
    val loB = lo.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val hiB = hi.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def pred(df: DataFrame) = {
      requireStringCol(name, df, column)
      df.filter(col(column) >= lit(lo) && col(column) <= lit(hi))
    }
    prunedRead(statsPrunedFilesTyped(name,
      Seq(BytesRange(column, loB, Some(hiB)))), name, pred)
  }

  /** Prefix read with manifest file skipping — semantically identical to
    * `read(name).filter(column.startsWith(prefix))`: the manifest range
    * is [prefix, next-prefix) with the upper bound from [[prefixUpper]],
    * the row predicate is the exact startsWith. The point-lookup /
    * leading-key shape of partition-by-prefix layouts (brand, language,
    * URL host) at 100 TB. Same safety contract as [[readPruned]].
    */
  def readPrunedPrefix(name: String, column: String, prefix: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(prefix.nonEmpty, "empty prefix matches everything — use read()")
    val pB = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def pred(df: DataFrame) = {
      requireStringCol(name, df, column)
      df.filter(col(column).startsWith(lit(prefix)))
    }
    prunedRead(statsPrunedFilesTyped(name,
      Seq(BytesRange(column, pB, prefixUpper(pB)))), name, pred)
  }

  /** Per-file Bloom-filter sidecar (Bloom 1970; the parquet/Delta
    * bloom-filter idea as ONE sidecar read) — the EQUALITY complement of
    * [[writeStatsManifest]]: a point lookup on a high-cardinality column
    * in a hash-partitioned or insertion-ordered layout finds every
    * file's min/max spanning the whole domain (nothing prunes), yet each
    * key lives in very few files — exactly what a membership filter
    * proves. `readPrunedEq`/`readPrunedIn` drop every file whose bloom
    * says "definitely absent" BEFORE Spark lists it; false positives
    * only ever KEEP a file (the row predicate still applies), so results
    * are exact.
    *
    * Build is DISTRIBUTED (one Spark job, unlike the footer-stats
    * manifest's driver-side walk): per-file `m` is sized from footer row
    * counts (next power of two >= rows*bitsPerKey, floor 64, cap 2^30),
    * each row contributes `numHashes` bits via seed-chained xxhash64
    * (position_i = pmod(xxhash64(i, col), m) — no position arithmetic,
    * so ANSI overflow cannot bite), partial-aggregated map-side and
    * bit_or-combined per (file, column, word). The driver collect is
    * metadata-bounded by files x cols x m/64 words (~0.2% of data bytes
    * at bitsPerKey=10), the same contract as the footer-stats build.
    * Probe hashes are evaluated through the SAME Spark expressions on a
    * one-row local relation (constant-folded, zero file I/O), so build
    * and probe can never diverge. Staleness, clone, drop, and
    * partitioned-layout semantics are shared with the stats manifest
    * (files keyed by path, not basename — partitionBy writers reuse task
    * file names across partition dirs); growth paths re-arm via
    * [[refreshBloomManifest]] at O(new files). Returns the file count
    * manifested.
    */
  def writeBloomManifest(name: String, cols: Seq[String], bitsPerKey: Int = 10,
      numHashes: Int = 7): Int = {
    recover(name)
    require(Files.exists(dir(name)), s"no table '$name'")
    val files = parquetDataFiles(name)
    val lines = bloomLines(name, files, cols, bitsPerKey, numHashes)
    val header = s"bpk=$bitsPerKey\tk=$numHashes\tcols=${cols.mkString(",")}"
    putMeta(name + "__bloom", (Seq("v1", header) ++ lines).mkString("\n"))
    files.size
  }

  /** Incremental bloom refresh — the append/slide maintenance pass:
    * per-file filters are INDEPENDENT, so a file whose (relative path,
    * byte size) identity is unchanged keeps its recorded line verbatim
    * and only NEW files are hashed (one Spark job over just those files;
    * an appended batch costs O(batch), not O(table) — the writeSwap
    * rebuild is for rewrites, this is for growth). Vanished files' lines
    * drop. Parameters come from the recorded header. Returns (files
    * hashed, lines reused).
    */
  def refreshBloomManifest(name: String): (Int, Int) = {
    recover(name)
    val (cols, bpk, k) = bloomManifestParams(name).getOrElse(
      throw new IllegalArgumentException(
        s"no bloom manifest on '$name' — writeBloomManifest first"))
    val old = getMeta(name + "__bloom").get.split("\n", -1).drop(2)
      .filter(_.nonEmpty).map { ln =>
        val parts = ln.split("\t", -1)
        (parts(0), parts(1).toLong) -> ln
      }.toMap
    val files = parquetDataFiles(name)
    val (kept, fresh) = files.partition(p =>
      old.contains((dir(name).relativize(p).toString, Files.size(p))))
    val freshByRel = fresh.map(p => dir(name).relativize(p).toString)
      .zip(bloomLines(name, fresh, cols, bpk, k)).toMap
    val merged = files.map { p =>
      val key = (dir(name).relativize(p).toString, Files.size(p))
      old.getOrElse(key, freshByRel(key._1))
    }
    val header = s"bpk=$bpk\tk=$k\tcols=${cols.mkString(",")}"
    putMeta(name + "__bloom", (Seq("v1", header) ++ merged).mkString("\n"))
    (fresh.size, kept.size)
  }

  /** The per-file bloom lines for a SUBSET of a table's data files —
    * shared by the full build and the incremental refresh. One
    * distributed pass over exactly `files`: every (column, hash index)
    * contributes a (word, single-bit mask) struct, bit_or-combined per
    * (file, column, word); files are keyed by ABSOLUTE PATH (partitionBy
    * writers reuse task file names across partition dirs, so basenames
    * collide on partitioned layouts). The driver collect is
    * metadata-bounded by files x cols x m/64 words, by contract.
    */
  private def bloomLines(name: String, files: Seq[Path], cols: Seq[String],
      bitsPerKey: Int, numHashes: Int): Seq[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty, "bloom manifests need at least one column")
    require(cols.forall(_.matches("[A-Za-z0-9_]+")),
      s"bloom columns must be plain identifiers: $cols")
    require(bitsPerKey >= 1 && bitsPerKey <= 32, s"bitsPerKey: $bitsPerKey")
    require(numHashes >= 1 && numHashes <= 16, s"numHashes: $numHashes")
    if (files.isEmpty) return Nil
    val conf = spark.sessionState.newHadoopConf()
    def nextPow2(x: Long): Long =
      if (x <= 1L) 1L else java.lang.Long.highestOneBit(x - 1L) << 1
    val mByAbs: Seq[(String, Long)] = files.map { p =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toAbsolutePath.toString), conf)
      val reader = ParquetFileReader.open(in)
      val rows = try reader.getRecordCount finally reader.close()
      // 2^27-bit cap (16 MiB of filter per column per file, ~22 MiB of
      // base64): past ~13M rows/file at bitsPerKey=10 the FPR degrades
      // gracefully instead of the sidecar ballooning toward the former
      // 2^30 cap's ~170 MB-per-entry manifests (ADVICE r13 — the probe
      // path decodes per-file strings driver-side, so entry size is the
      // lookup cost); files that large should split at write time anyway
      p.toAbsolutePath.toString ->
        math.min(1L << 27, math.max(64L, nextPow2(rows * bitsPerKey)))
    }
    val raw = spark.read.option("basePath", dir(name).toString)
      .parquet(files.map(_.toString): _*)
    import spark.implicits._
    val mDf = mByAbs.toDF("__bloom_file", "__bloom_m")
    // input_file_name() is the URL-ENCODED scan path: a warehouse root
    // containing a space / '%' / non-ASCII char percent-encodes, and an
    // inner join keyed on the raw filesystem path would silently drop
    // every row — all-zero filters that then prune files which DO hold
    // the probed key (ADVICE r13, a no-false-negative contract breach).
    // Decode (protecting literal '+', which url_decode would read as a
    // form-encoded space) and make any residual mismatch LOUD: the join
    // is a left join whose null m raises in-plan, so encoding drift can
    // only ever fail the build, never corrupt a filter.
    val decoded = url_decode(regexp_replace(
      regexp_replace(input_file_name(), "^file:/+", "/"), "\\+", "%2B"))
    val base = raw
      .select(cols.map(col) :+ decoded.as("__bloom_file"): _*)
      .join(broadcast(mDf), Seq("__bloom_file"), "left")
      .withColumn("__bloom_m", when(col("__bloom_m").isNull, raise_error(
        concat(lit("bloom build: scan path not in the manifest key set "
          + "(URL-decode drift?): "), col("__bloom_file"))).cast("long"))
        .otherwise(col("__bloom_m")))
    val contribs = cols.flatMap { c =>
      (0 until numHashes).map { i =>
        val pos = pmod(xxhash64(lit(i), col(c)), col("__bloom_m"))
        struct(lit(c).as("c"),
          call_function("div", pos, lit(64L)).as("w"),
          call_function("shiftleft", lit(1L),
            pmod(pos, lit(64L)).cast("int")).as("b"))
      }
    }
    val words = base
      .select(col("__bloom_file"), explode(array(contribs: _*)).as("e"))
      .groupBy(col("__bloom_file"), col("e.c").as("c"), col("e.w").as("w"))
      .agg(call_function("bit_or", col("e.b")).as("bits"))
      .collect() // metadata-bounded: files x cols x m/64 words, by contract
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toMap).toMap
    val b64 = java.util.Base64.getEncoder
    val mMap = mByAbs.toMap
    files.map { p =>
      val abs = p.toAbsolutePath.toString
      val m = mMap(abs)
      val entries = cols.map { c =>
        val wmap = words.getOrElse((abs, c), Map.empty[Long, Long])
        val buf = java.nio.ByteBuffer.allocate(((m / 64) * 8).toInt)
        (0L until m / 64).foreach(w => buf.putLong(wmap.getOrElse(w, 0L)))
        s"$c=" + b64.encodeToString(buf.array())
      }
      (Seq(dir(name).relativize(p).toString, Files.size(p).toString,
        m.toString) ++ entries).mkString("\t")
    }
  }

  /** Recorded bloom parameters (columns, bitsPerKey, numHashes) — the
    * auto-refresh source for [[writeSwap]]-routed rewrites (staleness
    * deliberately NOT checked: the caller is about to rebuild).
    */
  private def bloomManifestParams(name: String): Option[(Seq[String], Int, Int)] =
    getMeta(name + "__bloom").flatMap { m =>
      val lines = m.split("\n", -1)
      if (lines.headOption.forall(_ != "v1") || lines.length < 2) None
      else {
        val hdr = lines(1).split("\t", -1)
          .map(e => e.split("=", 2)).map(a => a(0) -> a(1)).toMap
        Some((hdr("cols").split(",").toSeq, hdr("bpk").toInt, hdr("k").toInt))
      }
    }

  /** The bloom-pruned file set for `column IN values`: a file is kept
    * when ANY value is maybe-present (all `k` bits set in its filter).
    * None when no bloom manifest exists, it doesn't cover `column`, or
    * its recorded (path, size) set mismatches the live listing — callers
    * fall back to a full scan. private[graft] so specs assert the
    * PRODUCTION pruning decision.
    */
  private[graft] def bloomPrunedFiles(name: String, column: String,
      values: Seq[Any],
      /** Relative paths already proven POSSIBLE by other evidence (the
        * stats-manifest kept set): files outside it skip the base64
        * decode entirely — the probe's dominant cost on wide manifests
        * (ADVICE r13) — and are excluded from the kept set (safe:
        * exclusion elsewhere proved disjointness, and intersection of
        * no-false-negative evidence is no-false-negative).
        */
      candidates: Option[Set[String]] = None): Option[(Seq[Path], Int)] = {
    import org.apache.spark.sql.functions.{lit, xxhash64}
    require(values.nonEmpty, "bloomPrunedFiles needs at least one value")
    require(values.forall(_ != null), "NULL never equals — drop null probes")
    recover(name)
    loadManifest(name, "__bloom", "v1", 1).flatMap { case (header, recs) =>
      val hdr = header.head.split("\t", -1)
        .map(e => e.split("=", 2)).map(a => a(0) -> a(1)).toMap
      val k = hdr("k").toInt
      if (!hdr("cols").split(",").contains(column)) None
      else read(name).schema.fields.find(_.name == column).map { f =>
        // probe hashes through the SAME expressions as the build, on a
        // one-row local relation (constant-folded — no file I/O)
        val hashCols = values.flatMap(v =>
          (0 until k).map(i => xxhash64(lit(i), lit(v).cast(f.dataType))))
        val row = spark.range(1).select(hashCols: _*).head()
        val rawHashes: Seq[Seq[Long]] = values.indices.map(vi =>
          (0 until k).map(i => row.getLong(vi * k + i)))
        val b64 = java.util.Base64.getDecoder
        val kept = recs.filter { case (rel, entries) =>
          candidates.forall(_.contains(rel)) && {
          val m = entries.head.toLong
          entries.tail.map(_.split("=", 2)).collectFirst {
            case Array(c, bits) if c == column => bits
          } match {
            case None => true // column entry missing for this file: keep
            case Some(bits) =>
              val wb = java.nio.ByteBuffer.wrap(b64.decode(bits)).asLongBuffer()
              val wordsArr = new Array[Long](wb.remaining()); wb.get(wordsArr)
              rawHashes.exists(_.forall { h =>
                val pos = java.lang.Math.floorMod(h, m)
                (wordsArr((pos / 64L).toInt) >>> (pos % 64L).toInt & 1L) == 1L
              })
          }
        }}.map(r => dir(name).resolve(r._1))
        (kept, recs.size)
      }
    }
  }

  /** Point-lookup read with bloom file skipping: semantically identical
    * to `read(name).filter(column === value)` — the bloom only removes
    * files that PROVABLY lack the value (no false negatives by
    * construction), the row predicate still applies to every file read,
    * and a declined manifest falls back to the full scan.
    */
  def readPrunedEq(name: String, column: String, value: Any): DataFrame =
    readPrunedIn(name, column, Seq(value))

  /** The stats-manifest kept set for `column IN values` (a file is kept
    * when ANY value's point range intersects its recorded bounds) — the
    * min/max half of the combined equality pruning: in a range-clustered
    * layout the stats prove which file COULD hold the key, in a hash
    * layout the bloom does; intersecting uses whichever evidence exists.
    */
  private def statsPrunedInFiles(name: String, column: String,
      values: Seq[Any]): Option[(Seq[Path], Int)] = {
    val preds: Seq[RangePred] = values.map {
      case l: Long => IntRange(column, l, l)
      case i: Int => IntRange(column, i.toLong, i.toLong)
      case s: String =>
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        BytesRange(column, b, Some(b))
      case _ => return None // unprunable value type: no stats evidence
    }
    recover(name)
    loadManifest(name, "__stats", "v2", 0).map { case (_, recs) =>
      (recs.filter { case (_, entries) =>
        val st = parseColStats(entries)
        preds.exists(p => mayIntersect(st, p)) // IN = OR over point ranges
      }.map(r => dir(name).resolve(r._1)), recs.size)
    }
  }

  /** Multi-key point-lookup read with combined file skipping — the
    * "fetch these N keys" batch shape: semantically identical to
    * `read(name).filter(column isin values)`. BOTH sidecars prune when
    * present and their evidence INTERSECTS (a file is read only when the
    * bloom says maybe-present AND the min/max says in-range) — a
    * range-clustered layout prunes by bounds, a hash layout by
    * membership, and a clustered+bloomed table gets both, so a key
    * absent from its one covering file reads ZERO files. Either manifest
    * declining (missing/stale/uncovered column) simply drops its half of
    * the evidence; with neither, the full scan.
    */
  def readPrunedIn(name: String, column: String, values: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(values.nonEmpty, "readPrunedIn needs at least one value")
    def pred(df: DataFrame) = df.filter(col(column).isin(values: _*))
    // stats evidence FIRST: its kept set feeds the bloom probe as the
    // candidate set, so a file the min/max already ruled out never pays
    // the per-file base64 decode (the probe's dominant cost on wide
    // manifests — ADVICE r13); the bloom result is then already the
    // intersection of both evidence halves
    val st = statsPrunedInFiles(name, column, values)
    val stRel = st.map { case (s, _) =>
      s.map(p => dir(name).relativize(p).toString).toSet }
    val kept = (bloomPrunedFiles(name, column, values, stRel), st) match {
      case (b @ Some(_), _) => b
      case (None, s) => s
    }
    prunedRead(kept, name, pred)
  }

  /** Dim-driven dynamic file pruning — the JOIN face of the point-lookup
    * (Delta/Databricks "dynamic file pruning"; Spark's own runtime
    * bloom-filter join reduces the same shape at the ROW grain where
    * this works at the FILE grain through the committed sidecars):
    * semantically identical to
    * `read(name).join(dim.select(dimCol).distinct, col(column) === dimCol,
    * "left_semi")`, but when the build side's distinct key set fits the
    * declared `maxKeys` bound the probe side's FILE SET is decided by
    * stats ∩ bloom evidence before Spark lists anything — the "join a
    * 100 TB fact to a filtered dimension" shape where the filter kills
    * most of the dimension and the surviving keys live in a handful of
    * fact files.
    *
    * The key collect is METADATA-BOUNDED BY CONTRACT (the bloom-build
    * discipline at :1265): at most `maxKeys + 1` rows cross the driver
    * (`limit` caps the plan, not a post-hoc check), and a build side
    * that proves wider degrades to the full-scan semi join — the same
    * graceful decline every pruned read takes on a missing manifest,
    * because a dimension with millions of surviving keys prunes nothing
    * at the file grain and the shuffle join IS the right plan. NULL keys
    * never match an equi-join, so they are dropped before the bound is
    * charged.
    */
  def readPrunedSemi(name: String, column: String, dim: DataFrame,
      dimCol: String, maxKeys: Int = 4096): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(maxKeys >= 1 && maxKeys <= 1000000, s"maxKeys: $maxKeys")
    val keys = dim.select(col(dimCol)).filter(col(dimCol).isNotNull)
      .distinct().limit(maxKeys + 1).collect().map(_.get(0)).toSeq
    if (keys.isEmpty)
      read(name).filter(org.apache.spark.sql.functions.lit(false))
    else if (keys.size > maxKeys)
      read(name).join(
        dim.select(col(dimCol).as(column)).filter(col(column).isNotNull)
          .distinct(),
        Seq(column), "left_semi")
    else readPrunedIn(name, column, keys)
  }

  /** Zero-copy table clone (dbt clone, dbt-adapters
    * macros/materializations/models/clone/clone.sql — Snowflake's
    * metadata-only CREATE TABLE CLONE): hard-link every data file of
    * `src` into a staged dir and swap it in as `dst`. O(file count)
    * metadata ops, zero data bytes moved; falls back to a byte copy when
    * the filesystem refuses links (cross-device). Safe because this
    * warehouse never mutates a committed data file in place — every
    * rewrite stages a fresh directory and renames, so the clone and the
    * source may age independently. Bucketed CATALOG tables are excluded
    * (their identity lives in the session catalog, not the directory).
    */
  def cloneTable(src: String, dst: String): Unit = {
    recover(src); recover(dst)
    require(Files.exists(dir(src)), s"clone source '$src' missing")
    require(getMeta(src + "__bktgen").isEmpty,
      s"'$src' is a bucketed catalog table — clone its logical content via " +
        "read + writeBucketed instead")
    val tmp = dir(dst + "__tmp")
    val target = dir(dst)
    val backup = dir(dst + "__backup")
    deleteRec(tmp); deleteRec(backup)
    val s0 = dir(src)
    val st = Files.walk(s0)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.foreach { p =>
        val t = tmp.resolve(s0.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else try Files.createLink(t, p)
        catch { case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
        }
      }
    } finally st.close()
    // the writeSwap commit protocol (same failpoints, same recover() path)
    failpoint("swap:staged")
    if (Files.exists(target)) {
      Files.move(target, backup, StandardCopyOption.ATOMIC_MOVE)
      failpoint("swap:backed-up")
    }
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    failpoint("swap:swapped")
    deleteRec(backup)
    // the data-skipping sidecar travels with the clone: relative paths
    // and byte sizes are identical (hard links), so the source manifest
    // is valid verbatim — and any stale manifest of a PREVIOUS dst
    // incarnation must not linger (its (path, size) check would almost
    // surely reject, but correctness here is explicit, not probabilistic)
    getMeta(src + "__stats") match {
      case Some(m) => putMeta(dst + "__stats", m)
      case None => removeMeta(dst + "__stats")
    }
    getMeta(src + "__bloom") match {
      case Some(m) => putMeta(dst + "__bloom", m)
      case None => removeMeta(dst + "__bloom")
    }
    invalidate(dst)
  }

  def drop(name: String): Unit = {
    // drop-intent marker FIRST (ADVICE r6): the checkpoint-before-table
    // ordering below still leaves a crash window — checkpoint gone, table
    // present — where a restarted aggStream would REPLAY into the surviving
    // table and silently double-count its sum-combined state. The marker
    // makes a half-finished drop complete itself on the next Warehouse
    // open (recover() runs completeDrop before anything reads the name)
    // instead of relying on someone noticing and re-dropping.
    sliceLock.synchronized {
      dropMarkerAbsent.remove(name)
      putMeta(name + "__drop_intent", "")
    }
    dropBody(name)
  }

  /** The deletion sequence shared by [[drop]] and crash recovery
    * ([[completeDrop]]) — every step idempotent, marker removed LAST.
    */
  private def dropBody(name: String): Unit = {
    // streaming-bridge checkpoint FIRST (mergeStream/aggStream plant one
    // under root/_checkpoints/<name>): a retained checkpoint says every
    // source offset is processed, so a restarted stream against the
    // dropped-and-recreated table would process NOTHING and the state
    // would silently stay empty — unrecoverable for non-idempotent
    // (sum-combined) aggregate state. Ordering matters for the crash
    // window: checkpoint-gone + table-present merely replays — and the
    // intent marker guarantees that replay can never land, because the
    // half-dropped table is finished off before any reader or stream
    // reopens the name.
    deleteRec(java.nio.file.Paths.get(root, "_checkpoints", name))
    failpoint("drop:checkpoint-deleted")
    deleteRec(dir(name))
    failpoint("drop:table-deleted")
    // ALL stale swap state dies with its table: a leftover writeSwap backup
    // would otherwise RESURRECT the dropped table on the next recover()
    // (backup present + target missing = restore), and a pending slice
    // marker must never replay onto a later table recreated under the name
    deleteRec(dir(name + "__backup"))
    deleteRec(dir(name + "__tmp"))
    deleteRec(dir(name + "__slice_tmp"))
    Files.deleteIfExists(dir(name + "__slice_intent__meta"))
    // the config sidecar too: a later table recreated under this name must
    // not inherit the dropped table's dynamic-table config (a config-clean
    // first run would silently no-op instead of building)
    Files.deleteIfExists(dir(name + "__meta"))
    // and the data-skipping manifests (a recreated table's reads would
    // pay the stale-check listing for nothing)
    Files.deleteIfExists(dir(name + "__stats__meta"))
    Files.deleteIfExists(dir(name + "__bloom__meta"))
    // derived-knowledge sidecars die with their relation. The ivm cursor
    // one is a CORRECTNESS matter, not hygiene: a recreated join view
    // inheriting a dropped view's cursors would classify every existing
    // input row as "already stored" and build a first run that is only
    // the delta — silently missing the old⋈old block forever. Buildsig
    // and constraints merely degrade safely (missing target rebuilds;
    // signature mismatch refuses), but stale knowledge about a table
    // that no longer exists has no business surviving it.
    Files.deleteIfExists(dir(name + "__buildsig__meta"))
    Files.deleteIfExists(dir(name + "__constraints__meta"))
    Files.deleteIfExists(dir(name + "__ivm__meta"))
    // the stream-bridge batch ledger too: a recreated table must not
    // inherit "batch N already applied" from a previous life — the
    // checkpoint deletion above already forces re-ingestion from offset
    // zero, and a surviving ledger would silently no-op every replayed
    // batch into the empty table
    Files.deleteIfExists(dir(name + "__stream_batch__meta"))
    // bucketed-catalog state dies too: the catalog entry (either the live
    // name or a mid-rename __gen_* survivor), BOTH generation data dirs,
    // and the generation sidecar — otherwise a "dropped" bucketed table
    // stays fully readable via spark.table from its @a/@b dir, or a later
    // writeBucketed under the name inherits a stale generation pointer
    if (getMeta(name + "__bktgen").isDefined) {
      Seq(name, s"${name}__gen_a", s"${name}__gen_b")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      deleteRec(dir(s"$name@a"))
      deleteRec(dir(s"$name@b"))
      Files.deleteIfExists(dir(name + "__bktgen__meta"))
    }
    invalidate(name)
    // marker LAST: every deletion above is idempotent, so a crash anywhere
    // before this line re-runs the whole body on the next open
    sliceLock.synchronized {
      Files.deleteIfExists(dir(name + "__drop_intent__meta"))
      dropMarkerAbsent.add(name)
    }
  }

  /** Tiny sidecar metadata (e.g. the dynamic-table config the reference
    * stores as Snowflake DDL properties). Written atomically via tmp+move.
    */
  def putMeta(name: String, content: String): Unit = {
    val p = dir(name + "__meta")
    val tmp = dir(name + "__meta.tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Delete a sidecar written by [[putMeta]] (idempotent). */
  def removeMeta(name: String): Unit =
    Files.deleteIfExists(dir(name + "__meta"))

  def getMeta(name: String): Option[String] = {
    metaProbes.incrementAndGet()
    val p = dir(name + "__meta")
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  /** Directory listing with the stream CLOSED (Files.list leaks an open
    * DirectoryStream fd otherwise — one per microbatch window in a
    * long-lived driver).
    */
  private def listDir(p: Path): Seq[Path] = {
    val st = Files.list(p)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.toSeq
    } finally st.close()
  }

  private[graft] def deleteRec(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      } finally st.close()
    }
}
