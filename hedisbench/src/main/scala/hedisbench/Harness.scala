package hedisbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** One benchmark run in one JVM: warm the mix, time whole passes over it,
  * then write each query's latest timed result to parquet for the oracle
  * check. Writes one JSON record of raw timings (and, when traced, spans
  * and listener counters); `run.py` turns it into metrics.
  *
  * Arguments are `key=value` pairs: `queries` (comma list), `sf`, `seed`,
  * `seconds`, `warmup`, `trace` (0|1), `cores`, `partitions`, `launchMs`
  * (epoch ms at which the launcher started this JVM), `scratch` (the run's
  * scratch root: `tmp`, `local`, `warehouse` and `check` live under it) and
  * `out` (the record file).
  */
object Harness {
  /** Span property carried by every Spark job the harness causes, so a
    * job's span can name the query-function call or action it belongs to. */
  val SpanKey = "hedisbench.span"

  val MinTimedPasses = 3

  /** Epoch milliseconds with sub-millisecond resolution: the listener's job
    * and plan-phase times are epoch ms, the harness's own spans need
    * nanoTime precision, and all spans share one timeline. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Long, parent: Long, kind: String, name: String,
      start: Double, var end: Double = Double.NaN)

  final class Tracer {
    private var next = 0L
    val spans = mutable.ArrayBuffer.empty[Span]
    def open(parent: Long, kind: String, name: String): Span = {
      next += 1
      val s = Span(next, parent, kind, name, nowMs())
      spans += s
      s
    }
  }

  final case class JobRec(id: Int, span: Long, start: Long, var end: Long = -1L)

  /** One completed stage: its task count and its summed task metrics. */
  final case class StageRec(id: Int, span: Long, tasks: Int, runMs: Long, cpuNs: Long,
      inputBytes: Long, inputRows: Long, outputBytes: Long, outputRows: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)

  final class Listener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.ArrayBuffer.empty[StageRec]
    private val stageSpan = mutable.HashMap.empty[Int, Long]
    @volatile var drainLatch: Option[(Long, CountDownLatch)] = None

    private def spanOf(p: Properties): Long =
      Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = JobRec(e.jobId, spanOf(e.properties), e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages += StageRec(si.stageId, stageSpan.getOrElse(si.stageId, 0L), si.numTasks,
        m.executorRunTime, m.executorCpuTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val span = synchronized {
        jobs.get(e.jobId).map { j => j.end = e.time; j.span }
      }
      drainLatch.foreach { case (s, l) => if (span.contains(s)) l.countDown() }
    }
  }

  /** One SQL execution's planning phases, from its QueryExecution.tracker. */
  final case class PlanRec(start: Double, analysisMs: Double,
      optimizationMs: Double, planningMs: Double)

  final class PlanListener extends QueryExecutionListener {
    val plans = mutable.ArrayBuffer.empty[PlanRec]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
      synchronized { plans += PlanRec(start, ms("analysis"), ms("optimization"), ms("planning")) }
    }
  }

  /** The check dump's timestamp convention (same as graft.Verify): TIMESTAMP
    * columns become TIMESTAMP_NTZ so pyarrow reads the UTC wall clock the
    * DuckDB oracle renders. */
  def naiveTimestamps(df: DataFrame): DataFrame =
    if (!df.schema.fields.exists(_.dataType == TimestampType)) df
    else df.select(df.schema.fields.toIndexedSeq.map { f =>
      if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
      else col(f.name)
    }: _*)

  /** Bytes and parquet data files under the program's scratch warehouses. */
  def storedBytesAndFiles(roots: Seq[File]): (Long, Long) = {
    var bytes, files = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) {
        bytes += f.length()
        if (f.getName.endsWith(".parquet")) files += 1
      }
    roots.foreach(walk)
    (bytes, files)
  }

  /** Milliseconds the host has taken from this machine's CPUs while they
    * had work (steal time, the `cpu` line of /proc/stat, in 10 ms ticks);
    * -1 where the kernel does not report it. */
  def stealMs(): Long =
    try Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong * 10L).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def jnum(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def main(args: Array[String]): Unit = {
    val mainMs = nowMs()
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val queries = kv("queries").split(",").toSeq
    val sf = kv("sf")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val warmup = kv("warmup").toInt
    val trace = kv("trace") == "1"
    val cores = kv("cores").toInt
    val partitions = kv("partitions").toInt
    val launchMs = kv("launchMs").toDouble
    val scratch = Paths.get(kv("scratch")).toAbsolutePath
    val out = Paths.get(kv("out"))

    val entry = SparkEntry.queries
    val entryMs = nowMs()
    val unknown = queries.filterNot(entry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val fns = queries.map(entry)
    val warehouseDir = scratch.resolve("warehouse")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("local").toString)
      .config("spark.sql.warehouse.dir", warehouseDir.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = nowMs()

    val tracer = new Tracer
    val listener = new Listener
    val planListener = new PlanListener
    if (trace) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(planListener)
    }
    val sc = spark.sparkContext
    val tmpRoot = new File(System.getProperty("java.io.tmpdir"))
    def storeRoots: Seq[File] =
      Option(tmpRoot.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft_scratch_")) :+
        warehouseDir.toFile

    val rng = new scala.util.Random(seed)
    final case class OpRec(pass: Int, name: String, callMs: Double, actionMs: Double,
        cpuNs: Long, stealMs: Long, error: Option[String])
    final case class PassRec(index: Int, timed: Boolean, span: Span, cpuNs: Long, gcMs: Long,
        stealMs: Long, storedBytes: Long, storedFiles: Long)
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val passes = mutable.ArrayBuffer.empty[PassRec]
    // the DataFrame each query returned in its latest timed run: the check
    // dumps it, so it checks the timed output without calling the query
    // function (and its eager lifecycle work) once more
    val lastResult = mutable.HashMap.empty[String, DataFrame]

    // warm-up passes run the mix in its listed order, so every run's JIT
    // profiles start from the same sequence whatever the seed; timed passes
    // run it in an order shuffled from the seed
    def runPass(index: Int, timed: Boolean): Unit = {
      val order = if (timed) rng.shuffle(queries.indices.toList) else queries.indices.toList
      val cpu0 = cpuNs(); val gc0 = gcMs(); val steal0 = stealMs()
      val ps = tracer.open(0L, "pass", s"pass$index")
      order.foreach { i =>
        val name = queries(i)
        val opCpu0 = cpuNs(); val opSteal0 = stealMs()
        val os = tracer.open(ps.id, "op", name)
        val cs = tracer.open(os.id, "call", name)
        sc.setLocalProperty(SpanKey, cs.id.toString)
        var as: Span = null
        val err = try {
          lastResult -= name
          val df = fns(i)(spark, sf)
          cs.end = nowMs()
          if (timed) lastResult(name) = df
          as = tracer.open(os.id, "action", name)
          sc.setLocalProperty(SpanKey, as.id.toString)
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable =>
          Some(e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(300))
        }
        val t = nowMs()
        if (cs.end.isNaN) cs.end = t
        if (as != null) as.end = t
        os.end = t
        sc.setLocalProperty(SpanKey, null)
        val opSteal1 = stealMs()
        ops += OpRec(index, name, cs.end - cs.start,
          if (as == null) 0.0 else as.end - as.start, cpuNs() - opCpu0,
          if (opSteal0 < 0 || opSteal1 < 0) -1L else opSteal1 - opSteal0, err)
      }
      ps.end = nowMs()
      val cpu1 = cpuNs(); val gc1 = gcMs(); val steal1 = stealMs()
      val (sb, sfiles) = if (trace) storedBytesAndFiles(storeRoots) else (0L, 0L)
      val steal = if (steal0 < 0 || steal1 < 0) -1L else steal1 - steal0
      passes += PassRec(index, timed, ps, cpu1 - cpu0, gc1 - gc0, steal, sb, sfiles)
    }

    (1 to warmup).foreach(p => runPass(p, timed = false))
    val firstTimedMs = nowMs()
    // at least MinTimedPasses, so that one disturbed pass cannot move the
    // median
    var p = warmup
    while (nowMs() - firstTimedMs < seconds * 1000.0 || p - warmup < MinTimedPasses) {
      p += 1; runPass(p, timed = true)
    }
    val rssKb = peakRssKb()

    // correctness dump: each query's latest timed result, to parquet (a
    // query whose latest run failed is called afresh)
    val checkDir = scratch.resolve("check")
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    queries.sorted.foreach { name =>
      try naiveTimestamps(lastResult.getOrElse(name, entry(name)(spark, sf))).coalesce(1)
        .write.mode("overwrite").parquet(checkDir.resolve(name).toString)
      catch { case e: Throwable =>
        checkErrors(name) = e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(300)
      }
    }

    if (trace) {
      // a marker job: once the listener sees it end, every earlier event on
      // the shared listener queue (jobs, stages, SQL executions) is delivered
      val latch = new CountDownLatch(1)
      val marker = -1L
      listener.drainLatch = Some((marker, latch))
      sc.setLocalProperty(SpanKey, marker.toString)
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(SpanKey, null)
      require(latch.await(60, TimeUnit.SECONDS), "listener queue did not drain")
    }

    val sb = new StringBuilder
    sb ++= "{"
    sb ++= s""""cores":$cores,"partitions":$partitions,"seed":$seed,"sf":${jstr(sf)},"""
    sb ++= s""""heap_max_bytes":${Runtime.getRuntime.maxMemory},"""
    sb ++= s""""launch_ms":${jnum(launchMs)},"main_ms":${jnum(mainMs)},"entry_ms":${jnum(entryMs)},"""
    sb ++= s""""session_ms":${jnum(sessionMs)},"first_timed_ms":${jnum(firstTimedMs)},"""
    sb ++= s""""peak_rss_kb":$rssKb,"traced":$trace,"""
    sb ++= s""""oracles":{${queries.sorted.flatMap(n => SparkEntry.oracleSql.get(n).map(s => jstr(n) + ":" + jstr(s))).mkString(",")}},"""
    sb ++= s""""check_errors":{${checkErrors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString(",")}},"""
    sb ++= passes.map { r =>
      s"""{"index":${r.index},"timed":${r.timed},"start_ms":${jnum(r.span.start)},"end_ms":${jnum(r.span.end)},""" +
        s""""cpu_ns":${r.cpuNs},"gc_ms":${r.gcMs},"steal_ms":${r.stealMs},"stored_bytes":${r.storedBytes},"stored_files":${r.storedFiles}}"""
    }.mkString(""""passes":[""", ",", "],")
    sb ++= ops.map { o =>
      s"""{"pass":${o.pass},"name":${jstr(o.name)},"call_ms":${jnum(o.callMs)},"action_ms":${jnum(o.actionMs)},""" +
        s""""cpu_ns":${o.cpuNs},"steal_ms":${o.stealMs},""" +
        s""""error":${o.error.map(jstr).getOrElse("null")}}"""
    }.mkString(""""ops":[""", ",", "],")
    sb ++= tracer.spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":${jstr(s.kind)},"name":${jstr(s.name)},""" +
        s""""start_ms":${jnum(s.start)},"end_ms":${jnum(s.end)}}"""
    }.mkString(""""spans":[""", ",", "],")
    sb ++= listener.synchronized(listener.jobs.values.filter(_.span > 0).toSeq).map { j =>
      s"""{"id":${j.id},"span":${j.span},"start_ms":${j.start},"end_ms":${j.end}}"""
    }.mkString(""""jobs":[""", ",", "],")
    sb ++= listener.synchronized(listener.stages.filter(_.span > 0).toSeq).map { t =>
      s"""{"id":${t.id},"span":${t.span},"tasks":${t.tasks},"run_ms":${t.runMs},"cpu_ns":${t.cpuNs},""" +
        s""""input_bytes":${t.inputBytes},"input_rows":${t.inputRows},""" +
        s""""output_bytes":${t.outputBytes},"output_rows":${t.outputRows},""" +
        s""""shuffle_write_bytes":${t.shuffleWrite},"shuffle_read_bytes":${t.shuffleRead},""" +
        s""""spill_bytes":${t.spill}}"""
    }.mkString(""""stages":[""", ",", "],")
    sb ++= planListener.synchronized(planListener.plans.toSeq).map { q =>
      s"""{"start_ms":${jnum(q.start)},"analysis_ms":${jnum(q.analysisMs)},""" +
        s""""optimization_ms":${jnum(q.optimizationMs)},"planning_ms":${jnum(q.planningMs)}}"""
    }.mkString(""""plans":[""", ",", "]")
    sb ++= "}"
    spark.stop()
    Files.writeString(out, sb.toString)
  }
}
